package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Dedup

/** The PPJoin artifact staleness probe (r20, verdict ask #3 —
  * [[PpIndex.driftProbe]] / [[Dedup.ppArtifactProbe]]): every reading
  * verified against a corpus whose df profile is planted exactly —
  * a stop-shingle above the cap (build-time dropped mass), a mid-df
  * shingle the appends push ACROSS the cap (crossed mass = the
  * append-vs-rebuild divergence budget), per-doc unique shingles
  * (kept mass), and append-only vocabulary (the df=0-ranked sliver).
  */
class PpProbeSpec extends SparkSpec {

  import spark.implicits._

  // cap is MaxDf = 50. Build: "stop" in 60 docs (dropped), "mid" in 30
  // (kept), one unique per doc. Frozen mass 150, kept (= base rows) 90.
  private def buildDocs = (0L until 60L).map { i =>
    val sh = Seq("stop", s"u$i") ++ (if (i < 30) Seq("mid") else Nil)
    (i, sh)
  }.toDF("doc_id", "sh")

  // Appends: 30 docs of ("mid", one new shingle each) — "mid" ranks
  // under its frozen df 30 (kept) and ends at df_now 60 > cap.
  private def appendDocs = (100L until 130L)
    .map(i => (i, Seq("mid", s"new$i"))).toDF("doc_id", "sh")

  test("fresh build: appended/new/crossed all zero; build-time cap " +
      "coverage and row mass recovered from the _df sibling alone") {
    val table = "pp_probe_fresh"
    wipeTables(table)
    Dedup.buildPpIndexOver(spark, buildDocs, table)
    val r = Dedup.ppArtifactProbe(spark, table).head()
    assert(r.getAs[Long]("n_rows_frozen") === 90L)
    assert(r.getAs[Long]("n_rows_now") === 90L)
    assert(r.getAs[Double]("appended_frac") === 0.0)
    assert(r.getAs[Double]("new_fp_frac") === 0.0)
    // 60 of 150 shingle-mass rows fell to the cap at build
    assert(r.getAs[Double]("dropped_mass_frac_frozen") === 60.0 / 150.0)
    assert(r.getAs[Double]("crossed_mass_frac") === 0.0)
    assert(r.getAs[Long]("max_df_now") === 30L)
  }

  test("after appends: appended mass, append-only vocabulary, and " +
      "cap-crossing row mass are the planted exact fractions") {
    val table = "pp_probe_app"
    wipeTables(table)
    Dedup.buildPpIndexOver(spark, buildDocs, table)
    Dedup.appendToPpIndex(spark, table, appendDocs)
    val r = Dedup.ppArtifactProbe(spark, table).head()
    assert(r.getAs[Long]("n_rows_frozen") === 90L)
    assert(r.getAs[Long]("n_rows_now") === 150L)
    assert(r.getAs[Double]("appended_frac") === 60.0 / 150.0)
    assert(r.getAs[Double]("new_fp_frac") === 30.0 / 150.0)
    // the frozen reading does not move with appends
    assert(r.getAs[Double]("dropped_mass_frac_frozen") === 60.0 / 150.0)
    // "mid" crossed the cap (30 -> 60): all 60 of its rows are the
    // append != rebuild divergence mass
    assert(r.getAs[Double]("crossed_mass_frac") === 60.0 / 150.0)
    assert(r.getAs[Long]("max_df_now") === 60L)
    // the per-fingerprint view agrees: exactly one fp crossed
    val d = Dedup.ppIndexDrift(spark, table).head()
    assert(d.getAs[Long]("n_crossed") === 1L)
    assert(d.getAs[Long]("max_df_now") === 60L)
  }
}
