package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental maintenance of the persisted PPJoin base (r15, verdict
  * ask #2). The contract [[Dedup.appendToPpIndex]] documents, pinned:
  *
  *  1. append-equals-rebuild when no fingerprint's df crosses the
  *     MaxDf cap between build and rebuild (the gate fixtures sit far
  *     under the cap, so this is their regime);
  *  2. the divergence AT the cap boundary is exactly the documented
  *     one — the appended index keeps judging over the build-frozen
  *     universe while a rebuild re-caps;
  *  3. re-appending an indexed doc_id fails loudly;
  *  4. the candidate self-join stays exchange-free after appends
  *     (bucket layout survives; sortedness may not — Sorts are fine,
  *     shuffles are not).
  */
class PpAppendSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def pmap(df: org.apache.spark.sql.DataFrame) =
    df.select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("append == rebuild on the fixture corpus (df far under the cap)") {
    val table = "ppjoin_append_spec"
    wipeTables(table)
    val docs = Dedup.shingleDocs(spark, dir).localCheckpoint(eager = false)
    val cut = docs.agg(expr("percentile(doc_id, 0.75)")).head().getDouble(0).toLong
    Dedup.buildPpIndexOver(spark, docs.filter(col("doc_id") <= cut), table)
    Dedup.appendToPpIndex(spark, table, docs.filter(col("doc_id") > cut))

    val appended = pmap(Dedup.jaccardPairsIndexed(spark, table))
    val rebuilt = pmap(Dedup.jaccardPairs(docs))
    assert(appended.nonEmpty)
    assert(appended === rebuilt,
      "appended index diverged from a full rebuild below the cap boundary")

    // drift probe agrees this index is inside its budget: nothing
    // crossed the cap → append == rebuild (exactly what was asserted)
    val drift = Dedup.ppIndexDrift(spark, table).head()
    assert(drift.getAs[Long]("n_crossed") === 0L)
    assert(drift.getAs[Long]("max_df_now") <= 50L)

    // 4. candidate join over the multi-file-bucket base: still no shuffle
    val cands = Dedup.prefixCands(
      graft.sources.PpIndex.read(spark, table), 0.5,
      positional = true, merge = true)
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"),
      s"candidate self-join must stay exchange-free after appends:\n$plan")
  }

  test("compact restores single-file buckets and the sort-free plan; rows untouched") {
    val table = "ppjoin_compact_spec"
    wipeTables(table)
    val docs = Dedup.shingleDocs(spark, dir).localCheckpoint(eager = false)
    val cut = docs.agg(expr("percentile(doc_id, 0.75)")).head().getDouble(0).toLong
    Dedup.buildPpIndexOver(spark, docs.filter(col("doc_id") <= cut), table)
    Dedup.appendToPpIndex(spark, table, docs.filter(col("doc_id") > cut))

    def baseRows = graft.sources.PpIndex.read(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    def candPlan = Dedup.prefixCands(
        graft.sources.PpIndex.read(spark, table), 0.5,
        positional = true, merge = true)
      .queryExecution.executedPlan.toString
    val before = baseRows
    // appended buckets carry >1 file → Spark stops claiming sort order
    // → the exchange-free join re-sorts in-partition
    assert(candPlan.contains("Sort"),
      s"expected in-partition sorts on the post-append plan:\n$candPlan")

    graft.sources.PpIndex.compact(spark, table)
    assert(baseRows === before, "compact changed the base relation")
    val after = candPlan
    assert(!after.contains("Exchange"), after)
    assert(!after.contains("Sort ("),
      s"compact should restore the claimed per-bucket sort order:\n$after")
  }

  test("re-appending an indexed doc_id fails loudly") {
    val table = "ppjoin_append_dup_spec"
    wipeTables(table)
    val docs = Dedup.shingleDocs(spark, dir)
    Dedup.buildPpIndexOver(spark, docs, table)
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToPpIndex(spark, table, docs.limit(1))
    }
    assert(e.getMessage.contains("already indexed"))
  }

  test("cap boundary: frozen universe keeps judging, rebuild re-caps (documented divergence)") {
    val table = "ppjoin_append_cap_spec"
    wipeTables(table)
    import spark.implicits._
    // 49 build docs share fp "hot" (df_build = 49 <= MaxDf = 50, kept);
    // two appended docs push its full-corpus df to 51 (> cap)
    val buildDocs = (1L to 49L)
      .map(i => (i, Seq("hot", s"u$i a", s"u$i b", s"u$i c")))
      .toDF("doc_id", "sh")
    val newDocs = Seq(
      (100L, Seq("hot", "p", "q")),
      (101L, Seq("hot", "p", "r"))).toDF("doc_id", "sh")
    Dedup.buildPpIndexOver(spark, buildDocs, table)
    Dedup.appendToPpIndex(spark, table, newDocs)

    // frozen universe: {hot,p,q} vs {hot,p,r} → J = 2/4 = 0.5, pair kept
    val appended = pmap(Dedup.jaccardPairsIndexed(spark, table))
    assert(appended === Map((100L, 101L) -> 0.5),
      s"frozen-cap universe should emit exactly the boundary pair, got $appended")

    // rebuild re-caps: df(hot) = 51 > 50 drops it → {p,q} vs {p,r},
    // J = 1/3 < 0.5 → no pair. The divergence is the documented
    // contract, not a bug — rebuild when appended volume shifts dfs
    // across the cap.
    val rebuilt = pmap(Dedup.jaccardPairs(buildDocs.unionByName(newDocs)))
    assert(rebuilt.isEmpty,
      s"rebuild should re-cap 'hot' and drop the boundary pair, got $rebuilt")

    // the drift probe flags EXACTLY this state: one live fp ('hot',
    // df_now = 51) past the frozen cap — the signal a maintenance job
    // thresholds to schedule the rebuild that re-caps it
    val drift = Dedup.ppIndexDrift(spark, table).head()
    assert(drift.getAs[Long]("n_crossed") === 1L,
      s"probe should flag the crossed fp: $drift")
    assert(drift.getAs[Long]("max_df_now") === 51L)
  }
}
