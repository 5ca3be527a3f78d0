package graft.queries

import graft.SparkSpec

/** Lloyd-trained IVF centroids (Similarity.ivfTrain): the spherical
  * k-means objective (mean best-centroid cosine) must improve over the
  * deterministic first-nlist seed, and training must never LOSE probe
  * quality — trained centroids partition the space at least as well at
  * the same nprobe. The decimal-sum means (r17) make the trained book
  * bit-stable, and its bits are pinned.
  */
class IvfTrainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("each Lloyd step ascends the mean best-centroid cosine") {
    val e0 = Similarity.ivfTrain(spark, dir, nlist = 16, iters = 0)
    val e1 = Similarity.ivfTrain(spark, dir, nlist = 16, iters = 1)
    val e3 = Similarity.ivfTrain(spark, dir, nlist = 16, iters = 3)
    val (o0, o1, o3) = (Similarity.ivfObjective(spark, dir, e0),
      Similarity.ivfObjective(spark, dir, e1),
      Similarity.ivfObjective(spark, dir, e3))
    // small numerical slack: the ascent proof is for exact arithmetic
    assert(o1 >= o0 - 1e-9, s"step 1 regressed the objective: $o0 -> $o1")
    assert(o3 >= o1 - 1e-9, s"steps 2-3 regressed the objective: $o1 -> $o3")
    // on the near-isotropic fixture the seed is weak; training must
    // find real structure, not just not-regress
    assert(o3 > o0 + 1e-4, s"training produced no measurable gain: $o0 -> $o3")
    assert(e3.count() === 16L, "cluster count must be preserved (empty keeps prior)")
  }

  test("training is bit-stable across repartitionings (r17: decimal-sum Lloyd)") {
    // the one add-order-dependent step in distributed Lloyd was the
    // per-(centroid, dim) float mean; the decimal-sum form is exact
    // integer arithmetic, so ANY partitioning must produce the same
    // centroids to the last bit — the property that makes trained
    // books reuseArtifact-shareable (v10d/v12b) and rebuilds reproduce
    val e = Similarity.emb(spark, dir)
    def book(parts: Int): Seq[(Long, Seq[Long], Long)] =
      Similarity.ivfTrainOver(spark, e.repartition(parts), nlist = 16, iters = 3)
        .collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits).toSeq,
          java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
        .sortBy(_._1).toSeq
    val a = book(3)
    val b = book(29)
    assert(a === b, "trained centroids changed under a different partitioning")
  }

  test("the trained book's bits are pinned (sf0.01, nlist 16, iters 3)") {
    // a digest of every centroid double's raw bits, in c_id order: any
    // change to Lloyd's arithmetic (expression, rounding, reduction
    // order) moves it, and every hash-gated output that reads a trained
    // book (v10d, v12b, v13, v14, v15) would move with it
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(l: Long): Unit = { buf.clear(); buf.putLong(l); md.update(buf.array()) }
    Similarity.ivfTrain(spark, dir, nlist = 16, iters = 3).collect()
      .sortBy(_.getLong(0)).foreach { r =>
        put(r.getLong(0))
        r.getSeq[Double](1).foreach(x => put(java.lang.Double.doubleToRawLongBits(x)))
        put(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
      }
    val digest = md.digest().map("%02x".format(_)).mkString
    assert(digest ===
      "74e9abe3f53d0d929a061bd60817870a51dcc6dafb9e216ff153d35348fa3fd4")
  }

  test("collectBook fails loudly on a duplicate c_id") {
    // the driver-side sort and the scan kernel's strictly-greater
    // tie-break both assume distinct ids; a duplicate must not serve
    import spark.implicits._
    val book = Seq((1L, Seq(1.0, 0.0), 1.0), (0L, Seq(0.0, 1.0), 1.0),
      (1L, Seq(0.6, 0.8), 1.0)).toDF("c_id", "cv", "cn")
    val e = intercept[IllegalArgumentException](Similarity.collectBook(book))
    assert(e.getMessage.contains("c_id 1 appears more than once"))
    assert(Similarity.collectBook(book.filter($"cv"(0) =!= 0.6)).map(_._1) === Seq(0L, 1L),
      "a distinct book comes back in ascending c_id")
  }

  test("trained centroids keep every vector assigned and clusters non-degenerate") {
    val cents = Similarity.ivfTrain(spark, dir, nlist = 16, iters = 2)
    val assign = Similarity.ivfAssignWith(spark, dir, cents)
    val n = graft.Tables(spark, dir, "embeddings").count()
    assert(assign.count() === n, "every vector must land in exactly one cluster")
    // trained partitions should be reasonably balanced: no cluster
    // swallows more than half the corpus on the fixture
    val maxCluster = assign.groupBy("c_id").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxCluster <= n / 2, s"degenerate clustering: $maxCluster of $n in one cluster")
  }
}
