package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The maintenance lifecycle behind the v14 gate (r18, verdict ask
  * #4), pinned at the property level: the gate's driver hash proves
  * the composed OUTPUT; this spec proves the load-bearing mechanics —
  * the drift probe fires at the appended volume and clears after the
  * rebuild, and a serving reader planned BEFORE the rebuild returns
  * bit-identical rows when evaluated AFTER it (the ManifestSpec
  * pinned-reader property, here through a full index-serving plan
  * across a retrain-rebuild, not a bare parquet scan).
  */
class MaintenanceLoopSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("probe fires at 40% appended, clears post-rebuild; a reader " +
      "planned pre-rebuild serves bit-identical rows post-rebuild") {
    val path = java.nio.file.Files.createTempDirectory("v14spec")
      .toString + "/idx"
    val e = Similarity.emb(spark, dir)
    val raw = graft.Tables(spark, dir, "embeddings")
    val maxId = raw.agg(max(col("vec_id"))).head().getLong(0)
    val cut = maxId * 6 / 10

    // build at 60%, append the rest under the frozen seed book
    val eb = e.filter(col("vec_id") <= cut)
    val book0 = Similarity.centroids(eb, 16)
    graft.sources.IvfIndex.writeWithCodebook(
      Similarity.assignTo(eb, book0).select("vec_id", "c_id", "v", "nrm"),
      book0, path)
    Similarity.appendToIvfIndex(spark,
      raw.filter(col("vec_id") > cut).select("vec_id", "label", "embedding"),
      path)

    val fracPre = graft.sources.IvfIndex.driftProbe(spark, path)
      .select("appended_frac").head().getDouble(0)
    assert(fracPre > 0.25, s"probe should fire at 40% appended (got $fracPre)")

    // plan the pre-rebuild reader and EVALUATE it now — the baseline
    val qPred = col("vec_id") >= 100 && col("vec_id") < 110
    val pinned = Similarity.knnIvfOver(e,
      graft.sources.IvfIndex.codebook(spark, path),
      graft.sources.IvfIndex.read(spark, path), qPred, 2)
    val before = pinned.collect()
    assert(before.length === 30)

    // rebuild: retrain (deterministic Lloyd) + writeGen publish
    val trained = Similarity.ivfTrainOver(spark, e, 16, 3)
    graft.sources.IvfIndex.writeWithCodebook(
      Similarity.assignTo(e, trained).select("vec_id", "c_id", "v", "nrm"),
      trained, path)

    // the pinned plan re-evaluates against its already-resolved files
    // — bit-identical rows, not an exception, not the new generation
    val after = pinned.collect()
    assert(after.toSeq === before.toSeq,
      "pre-rebuild reader must serve identical rows across the rebuild")

    val fracPost = graft.sources.IvfIndex.driftProbe(spark, path)
      .select("appended_frac").head().getDouble(0)
    assert(fracPost === 0.0,
      s"probe must clear after the rebuild froze new stats (got $fracPost)")

    // and a FRESH reader resolves the retrained generation: its
    // codebook is the trained book, not the seed book
    val freshBook = graft.sources.IvfIndex.codebook(spark, path)
      .orderBy("c_id").collect().map(_.getSeq[Double](1))
    val trainedRows = trained.orderBy("c_id").collect()
      .map(_.getSeq[Double](1))
    assert(freshBook.toSeq === trainedRows.toSeq,
      "fresh readers must see the retrained codebook")
  }

  test("retention dial inside the lifecycle (r19, verdict ask #6): at " +
      "retain=2 a serving reader pinned TWO compactions back still " +
      "serves; pinned THREE back it fails loudly, never wrongly") {
    // ManifestSpec proves the property on a bare parquet scan; this is
    // the multi-cycle composition on the REAL index artifact through a
    // full serving plan (probe ranking + partition-pruned reads).
    val path = java.nio.file.Files.createTempDirectory("v14retain")
      .toString + "/idx"
    val e = Similarity.emb(spark, dir)
    val book = Similarity.centroids(e, 16)
    graft.sources.IvfIndex.write(
      Similarity.assignTo(e, book).select("vec_id", "c_id", "v", "nrm"),
      path, retain = 2) // g0
    val qPred = col("vec_id") >= 100 && col("vec_id") < 110
    // the reader shape here is the LONG-LIVED MAINTENANCE SESSION: it
    // resolves its generation DIRECTORY once and plans fresh queries
    // against it (the single-PLAN pinned reader is ManifestSpec's
    // property — and note it can outlive even the pruned generation:
    // a small broadcast side is materialized on first execution and
    // reused by later collect()s of the same plan, never re-opening
    // the files, which is correct-or-absent, never wrong)
    def serveFrom(d: String) = Similarity.knnIvfOver(e, book,
      spark.read.parquet(d).withColumn("c_id", col("c_id").cast("long")),
      qPred, 2)
    val dirA = graft.sources.AtomicSwap.dataDir(spark, path) // g0
    val a0 = serveFrom(dirA).collect()
    graft.sources.IvfIndex.compact(spark, path, retain = 2) // g1
    val dirB = graft.sources.AtomicSwap.dataDir(spark, path) // g1
    val b0 = serveFrom(dirB).collect()
    graft.sources.IvfIndex.compact(spark, path, retain = 2) // g2: {g2,g1,g0}
    assert(serveFrom(dirA).collect().toSeq === a0.toSeq,
      "the N-2 session's queries must still serve identical rows at retain=2")
    graft.sources.IvfIndex.compact(spark, path, retain = 2) // g3: g0 pruned
    val ex = intercept[Exception] { serveFrom(dirA).collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(ex).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(c.getMessage).contains("PATH_NOT_FOUND") ||
        String.valueOf(c.getMessage).contains("FileNotFound") ||
        String.valueOf(c.getMessage).toLowerCase.contains("does not exist")),
      s"the N-3 session must fail loudly, got: $ex")
    assert(serveFrom(dirB).collect().toSeq === b0.toSeq,
      "the N-2 session (B) must still serve after A expired")
  }

  test("streaming maintenance (r19, verdict stretch #8): the in-stream " +
      "policy fires exactly once, the final index equals the batch " +
      "rebuild, and a reader pinned pre-stream spans the in-stream " +
      "rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("v15spec").toString
    val (path, stage, ck) = (s"$tmp/idx", s"$tmp/stage", s"$tmp/ck")
    val e = Similarity.emb(spark, dir)
    val raw = graft.Tables(spark, dir, "embeddings")
    val maxId = raw.agg(max(col("vec_id"))).head().getLong(0)
    val cut = maxId / 2
    val eb = e.filter(col("vec_id") <= cut)
    val book0 = Similarity.centroids(eb, 16)
    graft.sources.IvfIndex.writeWithCodebook(
      Similarity.assignTo(eb, book0).select("vec_id", "c_id", "v", "nrm"),
      book0, path)
    // pinned BEFORE the stream; evaluated baseline now, and re-read
    // from its resolved files after the in-stream rebuild
    val pinned = spark.read.parquet(
      graft.sources.AtomicSwap.dataDir(spark, path))
    val pinnedIds = pinned.select("vec_id").collect().map(_.getLong(0)).sorted
    val upper = raw.filter(col("vec_id") > cut)
      .select("vec_id", "label", "embedding")
    upper.repartition(3).write.mode("overwrite").parquet(stage)
    val rebuilds = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = graft.streaming.IndexIngest.start(
      spark.readStream.schema(upper.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage),
      graft.streaming.IndexIngest.ivfMaintained(path, threshold = 0.3,
        retrain = ss => Similarity.ivfTrainOver(ss, e, 16, 3),
        onRebuild = () => { rebuilds.incrementAndGet(); () }),
      checkpointDir = Some(ck))
    q.processAllAvailable()
    q.stop()
    assert(rebuilds.get() === 1,
      s"equal thirds must fire the 0.3 policy exactly once (${rebuilds.get()})")
    // final content == the batch rebuild: every vector assigned under
    // the trained book (rebuild reassigns; later appends assign under
    // the same loaded book bit-identically)
    val trained = Similarity.ivfTrainOver(spark, e, 16, 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(graft.sources.IvfIndex.read(spark, path)) ===
      rows(Similarity.assignTo(e, trained)),
      "the streamed-maintained index must equal the batch rebuild")
    // the fresh codebook is the trained book, not the seed book
    val freshBook = graft.sources.IvfIndex.codebook(spark, path)
      .orderBy("c_id").collect().map(_.getSeq[Double](1))
    assert(freshBook.toSeq ===
      trained.orderBy("c_id").collect().map(_.getSeq[Double](1)).toSeq)
    // the pinned reader still serves exactly the bootstrap snapshot:
    // appends added files it never resolved, and the rebuild's publish
    // retained its generation
    assert(pinned.select("vec_id").collect().map(_.getLong(0)).sorted
      === pinnedIds,
      "the pre-stream reader must keep serving the bootstrap snapshot")
    // drift probe: steady state below the policy threshold
    val frac = graft.sources.IvfIndex.driftProbe(spark, path)
      .select("appended_frac").head().getDouble(0)
    assert(frac >= 0.0 && frac <= 0.3, s"steady-state frac $frac")
  }
}
