package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Manifest-pinned generation layout (r17, verdict ask #4) — the
  * reader-safe replacement for the rename swap's "never compact
  * concurrently with a reader" restriction. A Spark scan resolves its
  * concrete file list when the DataFrame is planned; the legacy swap's
  * renames moved those files out from under an open reader. Here
  * compact writes the NEXT generation beside the live one, the tiny
  * numbered manifest is the commit, and the superseded generation
  * survives until the compact after it — so the pinned reader and a
  * fresh post-compact reader are BOTH correct, concurrently.
  */
class ManifestSpec extends SparkSpec {

  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(pfx: String) =
    Files.createTempDirectory(pfx).toString + "/art"

  test("a reader pinned pre-compact and a fresh reader are both correct " +
      "across a concurrent compact") {
    val root = tmp("mfread")
    AtomicSwap.writeGen(spark, root) { gen =>
      Seq(1L, 2L, 3L).toDF("x").write.parquet(gen)
    }
    // reader A plans against the pre-compact manifest: its file list
    // is resolved NOW, from generation g0
    val pinned = spark.read.parquet(AtomicSwap.dataDir(spark, root))
    assert(pinned.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))

    // compact swaps in generation g1 while reader A is still open
    val src = spark.read.parquet(AtomicSwap.dataDir(spark, root))
    AtomicSwap.writeGen(spark, root) { gen =>
      src.repartition(1).write.parquet(gen)
    }

    // reader A's already-resolved files are untouched …
    assert(pinned.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L),
      "pre-compact reader must survive the swap")
    // … and a fresh reader resolves the new generation
    val fresh = spark.read.parquet(AtomicSwap.dataDir(spark, root))
    assert(fresh.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(AtomicSwap.dataDir(spark, root).endsWith("g1"))
    assert(fs.exists(new Path(root, "g0")),
      "the superseded generation must survive one compaction cycle")

    // the cycle after that prunes g0 — the documented lag bound
    val src2 = spark.read.parquet(AtomicSwap.dataDir(spark, root))
    AtomicSwap.writeGen(spark, root) { gen =>
      src2.write.parquet(gen)
    }
    assert(!fs.exists(new Path(root, "g0")),
      "a generation two compacts old must be pruned")
    assert(fs.exists(new Path(root, "g1")))
  }

  test("a committed generation with no manifest naming it stays invisible") {
    val root = tmp("mfcrash")
    AtomicSwap.writeGen(spark, root) { gen =>
      Seq(1L).toDF("x").write.parquet(gen)
    }
    // simulate a compact that crashed AFTER its data job committed but
    // BEFORE the manifest publish: a complete g1 with no manifest
    Seq(9L).toDF("x").write.parquet(root + "/g1")
    assert(AtomicSwap.dataDir(spark, root).endsWith("g0"),
      "readers must stay on the published generation")
    // the next writeGen skips the stray number and prunes it
    AtomicSwap.writeGen(spark, root) { gen =>
      Seq(2L).toDF("x").write.parquet(gen)
    }
    assert(AtomicSwap.dataDir(spark, root).endsWith("g2"))
    assert(!fs.exists(new Path(root, "g1")), "stray generation pruned")
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, root))
      .as[Long].collect().toSeq === Seq(2L))

    // a FIRST build that crashed between its data commit and its first
    // publish leaves no manifest: the root resolves to itself, and the
    // next build skips the stray number and prunes it
    val first = tmp("mffirst")
    Seq(3L).toDF("x").write.parquet(first + "/g0")
    assert(AtomicSwap.dataDir(spark, first) === first)
    AtomicSwap.writeGen(spark, first)(Seq(4L).toDF("x").write.parquet(_))
    assert(AtomicSwap.dataDir(spark, first).endsWith("g1"))
    assert(!fs.exists(new Path(first, "g0")), "unpublished first build pruned")
    // … and so does one whose data job never committed (no _SUCCESS)
    val half = tmp("mfhalf")
    Seq(3L).toDF("x").write.parquet(half + "/g0")
    assert(fs.delete(new Path(half, "g0/_SUCCESS"), false))
    assert(AtomicSwap.dataDir(spark, half) === half)
  }

  test("a rebuild whose second part fails leaves every part, and what " +
      "is served, on the old generation") {
    def boom(c: String) = raise_error(lit(s"$c write fails")).cast("long")
    def dirs(root: String, parts: String*) =
      parts.map(AtomicSwap.dataDir(spark, root, _))

    // BmIndex: postings are written, then the doclens part raises
    val bm = tmp("mfbm")
    val postings = Seq(("a", 1L, 2), ("b", 1L, 1), ("a", 2L, 1))
      .toDF("term", "doc_id", "tf")
    val doclens = Seq((1L, 3), (2L, 1)).toDF("doc_id", "dl")
    BmIndex.write(postings, doclens, bm)
    val bmParts = Seq(AtomicSwap.Main, "doclens", "df", "stats")
    def bmServe = graft.queries.TextAnalysis.bm25Indexed(spark, bm, Seq("a", "b"))
      .collect().toSeq
    val (bmDirs, bmServed) = (dirs(bm, bmParts: _*), bmServe)
    intercept[Exception] {
      BmIndex.write(postings.union(Seq(("c", 3L, 1)).toDF("term", "doc_id", "tf")),
        doclens.withColumn("dl", col("dl") + boom("doclens")), bm)
    }
    assert(dirs(bm, bmParts: _*) === bmDirs)
    assert(bmServe === bmServed)

    // IvfIndex: the lists are written, then the codebook part raises
    val ivf = tmp("mfivf")
    val assign = Seq((1L, 0L), (2L, 1L)).toDF("vec_id", "c_id")
    val book = Seq((0L, Seq(1.0, 0.0), 1.0), (1L, Seq(0.0, 1.0), 1.0))
      .toDF("c_id", "cv", "cn")
    IvfIndex.writeWithCodebook(assign, book, ivf)
    val ivfParts = Seq(AtomicSwap.Main, "codebook", "stats")
    def ivfServe = (IvfIndex.read(spark, ivf).collect().toSeq.map(_.toString).sorted,
      IvfIndex.codebook(spark, ivf).collect().toSeq.map(_.toString).sorted)
    val (ivfDirs, ivfServed) = (dirs(ivf, ivfParts: _*), ivfServe)
    intercept[Exception] {
      IvfIndex.writeWithCodebook(assign.union(Seq((3L, 0L)).toDF("vec_id", "c_id")),
        book.withColumn("c_id", col("c_id") + boom("codebook")), ivf)
    }
    assert(dirs(ivf, ivfParts: _*) === ivfDirs)
    assert(ivfServe === ivfServed)

    // PpIndex: the df table is written, then the base raises
    val table = "mf_pp_atomic"
    wipeTables(table)
    val base = Seq((1L, 10L, 1, 2), (1L, 11L, 2, 2), (2L, 10L, 1, 2),
      (2L, 11L, 2, 2)).toDF("doc_id", "s", "rk", "n")
    val dfAll = Seq((10L, 2L), (11L, 2L)).toDF("s", "df")
    PpIndex.writeWithDf(base, dfAll, table, maxDf = 50)
    def ppServe = (graft.queries.Dedup.jaccardPairsIndexed(spark, table)
        .collect().toSeq.map(_.toString).sorted,
      PpIndex.readDf(spark, table).collect().toSeq.map(_.toString).sorted,
      PpIndex.read(spark, table).inputFiles.toSeq.sorted,
      PpIndex.readDf(spark, table).inputFiles.toSeq.sorted)
    val ppServed = ppServe
    intercept[Exception] {
      PpIndex.writeWithDf(base.withColumn("rk", col("rk") + boom("base")),
        dfAll.withColumn("df", col("df") + 1), table, maxDf = 50)
    }
    assert(ppServe === ppServed)
  }

  test("writeParts writes its parts concurrently and publishes after all") {
    // each writer arrives at one shared latch and waits for the other:
    // run one after the other, the first would wait out the bound alone
    val root = tmp("mfconc")
    val latch = new java.util.concurrent.CountDownLatch(2)
    def meet(v: Long)(gen: String): Unit = {
      latch.countDown()
      assert(latch.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "the other part never started: parts ran one after the other")
      Seq(v).toDF("x").write.parquet(gen)
    }
    AtomicSwap.writeParts(spark, root)(AtomicSwap.Main -> meet(1L), "b" -> meet(2L))
    def read(part: String) =
      spark.read.parquet(AtomicSwap.dataDir(spark, root, part)).as[Long].collect().toSeq
    assert(read(AtomicSwap.Main) === Seq(1L))
    assert(read("b") === Seq(2L))
  }

  test("a build that fails in one part publishes nothing, and the next " +
      "build prunes its strays") {
    val root = tmp("mfstray")
    def ok(v: Long)(gen: String): Unit = Seq(v).toDF("x").write.parquet(gen)
    AtomicSwap.writeParts(spark, root)(AtomicSwap.Main -> ok(1L), "b" -> ok(2L))
    val before = Seq(AtomicSwap.Main, "b").map(AtomicSwap.dataDir(spark, root, _))
    val e = intercept[IllegalStateException] {
      AtomicSwap.writeParts(spark, root)(AtomicSwap.Main -> ok(3L),
        "b" -> (_ => throw new IllegalStateException("part b fails")))
    }
    assert(e.getMessage === "part b fails")
    assert(Seq(AtomicSwap.Main, "b").map(AtomicSwap.dataDir(spark, root, _)) === before,
      "a failed build must leave every part on its published generation")
    // the main part finished before the failure surfaced: a stray g1
    assert(fs.exists(new Path(root, "g1/_SUCCESS")))
    AtomicSwap.writeParts(spark, root)(AtomicSwap.Main -> ok(5L), "b" -> ok(6L))
    assert(AtomicSwap.dataDir(spark, root).endsWith("g2"))
    assert(!fs.exists(new Path(root, "g1")), "the failed build's stray is pruned")
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, root, "b"))
      .as[Long].collect().toSeq === Seq(6L))
  }

  test("commitAppend bumps the manifest without changing the generation") {
    val root = tmp("mfapp")
    AtomicSwap.writeGen(spark, root) { gen =>
      Seq(1L).toDF("x").write.parquet(gen)
    }
    val before = AtomicSwap.dataDir(spark, root)
    Seq(2L).toDF("x").write.mode("append").parquet(before)
    AtomicSwap.commitAppend(spark, root, before)
    assert(AtomicSwap.dataDir(spark, root) === before,
      "append must not move the current generation")
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, root))
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // manifests thin to the newest two — no unbounded accretion
    val mfs = fs.listStatus(new Path(root))
      .map(_.getPath.getName).filter(_.startsWith("mf-"))
    assert(mfs.length <= 2, s"manifests should be thinned: ${mfs.toSeq}")
  }

  test("commitAppend fails loudly when a compact raced the append") {
    // r18, ADVICE (medium): an append that resolved generation N while
    // a compact published N+1 would have its rows pruned by the NEXT
    // compact — the manifest bump must refuse to make that look
    // committed.
    val root = tmp("mfrace")
    AtomicSwap.writeGen(spark, root) { gen =>
      Seq(1L).toDF("x").write.parquet(gen)
    }
    val appendTarget = AtomicSwap.dataDir(spark, root) // resolves g0
    // a compact publishes g1 before the append's commit step
    val src = spark.read.parquet(appendTarget)
    AtomicSwap.writeGen(spark, root) { gen => src.write.parquet(gen) }
    Seq(2L).toDF("x").write.mode("append").parquet(appendTarget)
    val e = intercept[IllegalArgumentException] {
      AtomicSwap.commitAppend(spark, root, appendTarget)
    }
    assert(e.getMessage.contains("compact/rebuild ran concurrently"))
    // …and a correctly-sequenced re-append against the new generation
    // commits cleanly
    val cur = AtomicSwap.dataDir(spark, root)
    Seq(2L).toDF("x").write.mode("append").parquet(cur)
    AtomicSwap.commitAppend(spark, root, cur)
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, root))
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("commitAppend fails loudly when a FIRST build raced an append " +
      "into an empty root") {
    // r19, ADVICE: the old `wroteInto == root` escape silently accepted
    // exactly this race — the appended flat files at root are invisible
    // to manifest-resolving readers, so the bump must refuse.
    val root = tmp("mfrace0")
    fs.mkdirs(new Path(root))
    val appendTarget = AtomicSwap.dataDir(spark, root) // empty root -> itself
    assert(appendTarget === root)
    // a concurrent first build publishes g0 before the append commits
    AtomicSwap.writeGen(spark, root) { gen =>
      Seq(1L).toDF("x").write.parquet(gen)
    }
    Seq(2L).toDF("x").write.mode("append").parquet(appendTarget)
    val e = intercept[IllegalArgumentException] {
      AtomicSwap.commitAppend(spark, root, appendTarget)
    }
    assert(e.getMessage.contains("first build raced"))
    // readers resolve the committed generation, never the stray flat rows
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, root))
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("retention dial: retain=2 keeps a reader alive across two " +
      "compacts; past the horizon it fails LOUDLY, never wrongly") {
    // r18, verdict stretch #8 — the snapshot-expiry trade, dialable.
    val root = tmp("mfretain")
    AtomicSwap.writeGen(spark, root, retain = 2) { gen =>
      Seq(1L, 2L).toDF("x").write.parquet(gen)
    }
    val pinned = spark.read.parquet(AtomicSwap.dataDir(spark, root)) // g0
    def compactOnce(): Unit = {
      val src = spark.read.parquet(AtomicSwap.dataDir(spark, root))
      AtomicSwap.writeGen(spark, root, retain = 2) { gen =>
        src.repartition(1).write.parquet(gen)
      }
    }
    compactOnce() // g1 live; keep {g1, g0}
    compactOnce() // g2 live; keep {g2, g1, g0} — retain=2 superseded
    assert(fs.exists(new Path(root, "g0")),
      "retain=2 must keep the generation two compacts back")
    assert(pinned.as[Long].collect().sorted.toSeq === Seq(1L, 2L),
      "a reader pinned two compacts back must still be correct at retain=2")
    compactOnce() // g3 live; g0 crosses the horizon and is pruned
    assert(!fs.exists(new Path(root, "g0")),
      "a generation past the retention horizon must be pruned")
    // the still-pinned reader now fails LOUDLY — its resolved files
    // are gone whole-directory, so a wrong (partial) answer is
    // unobservable; the failure mode is an exception, not silence
    val e = intercept[Exception] { pinned.as[Long].collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(c.getMessage).contains("FileNotFound") ||
        String.valueOf(c.getMessage).toLowerCase.contains("does not exist")),
      s"expected a loud missing-files failure, got: $e")
  }
}
