package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path

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
    // publish: with no manifest at all, the committed g0 is published
    // on the next resolve …
    val first = tmp("mffirst")
    Seq(3L).toDF("x").write.parquet(first + "/g0")
    assert(AtomicSwap.dataDir(spark, first).endsWith("g0"))
    assert(spark.read.parquet(AtomicSwap.dataDir(spark, first))
      .as[Long].collect().toSeq === Seq(3L))
    // … while a g0 that never committed (no _SUCCESS) stays invisible
    val half = tmp("mfhalf")
    Seq(3L).toDF("x").write.parquet(half + "/g0")
    assert(fs.delete(new Path(half, "g0/_SUCCESS"), false))
    assert(AtomicSwap.dataDir(spark, half) === half)
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
