package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted bucketed PPJoin base (r14 — the BandIndex treatment
  * for d02's index): pairs served from the index must equal the
  * in-query path row for row, and the candidate self-join on the
  * bucketed fingerprint must run with ZERO shuffle exchanges (the
  * recurring-cost-to-write-once conversion the layout exists for).
  */
class PpIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("indexed pairs == in-query pairs; candidate self-join is exchange-free") {
    val table = "ppjoin_base_spec"
    // drop catalog entry AND the warehouse directory: a prior JVM's run
    // leaves the directory behind with no entry in THIS session's
    // in-memory catalog, and saveAsTable refuses an existing location
    // (the BandIndexSpec reset)
    wipeTables(table)
    Dedup.buildPpIndex(spark, dir, table)

    def pmap(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fresh = pmap(Dedup.jaccardPairs(Dedup.shingleDocs(spark, dir)))
    val indexed = pmap(Dedup.jaccardPairsIndexed(spark, table))
    assert(indexed.nonEmpty)
    assert(indexed === fresh, "indexed PPJoin diverged from the in-query path")

    // the candidate join reads both sides pre-partitioned + pre-sorted
    val cands = Dedup.prefixCands(
      graft.sources.PpIndex.read(spark, table), 0.5,
      positional = true, merge = true)
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"),
      s"candidate self-join against the bucketed base must not shuffle:\n$plan")
  }

  test("a reader pinned pre-compact survives the swap; fresh reads see the new generation") {
    import spark.implicits._
    val table = "ppjoin_reader_spec"
    wipeTables(table)
    val base = Seq((1L, 10L, 1, 2), (1L, 11L, 2, 2), (2L, 10L, 1, 1))
      .toDF("doc_id", "s", "rk", "n")
    graft.sources.PpIndex.write(base, table)
    // append so the compact has something to merge
    graft.sources.PpIndex.append(
      Seq((3L, 11L, 1, 1)).toDF("doc_id", "s", "rk", "n"), spark, table)

    def rowset(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "s").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val all = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L))

    // reader A resolves the LIVE generation's files now
    val pinned = graft.sources.PpIndex.read(spark, table)
    assert(rowset(pinned) === all)
    graft.sources.PpIndex.compact(spark, table)
    // A's already-resolved scan survives the swap; a fresh resolve
    // reads the compacted generation — same rows either way
    assert(rowset(pinned) === all, "pre-compact reader must survive the swap")
    assert(rowset(graft.sources.PpIndex.read(spark, table)) === all)
  }
}
