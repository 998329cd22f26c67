package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class ClusteringSpec extends SparkTestBase {
  import spark.implicits._

  // two well-separated blobs in 4-d: ids 1-10 near (0,0,0,0),
  // ids 11-20 near (10,10,10,10); jitter keeps points distinct
  private def blobs = ((1 to 10).map(i =>
      (i.toLong, Array(0f + i * 0.01f, 0f, 0f, 0f))) ++
    (11 to 20).map(i =>
      (i.toLong, Array(10f + i * 0.01f, 10f, 10f, 10f))))
    .toDF("vec_id", "embedding")

  test("kmeans separates well-separated blobs into pure clusters") {
    val out = Clustering.kmeans(blobs, "vec_id", "embedding", k = 2, maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a = (1 to 10).map(i => out(i.toLong)).toSet
    val b = (11 to 20).map(i => out(i.toLong)).toSet
    assert(a.size == 1 && b.size == 1 && a != b) // each blob pure, blobs apart
  }

  test("kmeans is deterministic across runs") {
    val r1 = Clustering.kmeans(blobs, "vec_id", "embedding", 2, 2).collect().toSeq
    val r2 = Clustering.kmeans(blobs, "vec_id", "embedding", 2, 2).collect().toSeq
    assert(r1.map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1) ==
      r2.map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1))
  }

  test("iteration actually moves centroids toward the blob means") {
    // init = two smallest-id vectors, BOTH inside blob A — after one
    // Lloyd round one centroid must migrate to blob B's mean
    val cents = Clustering.kmeansCentroids(blobs, "vec_id", "embedding", 2, 1)
    val xs = cents.map(_.head).sorted
    assert(xs(0) < 5.0 && xs(1) > 5.0, s"centroid x's: ${xs.mkString(",")}")
  }

  test("empty clusters keep their previous centroid") {
    // k=3 over the same two blobs: init centroids are ids 1,2,3 (all
    // blob A); after assignment pulls everything to the closest two,
    // any cluster left empty must retain its prior centroid, not NaN
    val cents = Clustering.kmeansCentroids(blobs, "vec_id", "embedding", 3, 2)
    assert(cents.length == 3)
    assert(cents.forall(_.forall(v => !v.isNaN)))
  }

  test("null, NaN and Inf vectors get a null cluster and never move a centroid") {
    // one rule in the shared kernel: no finite cost -> null id. Row 0
    // (null) also has the smallest id, so init must skip it too.
    val bad = Seq[(Long, Array[Float])]((0L, null),
      (21L, Array(Float.NaN, 0f, 0f, 0f)),
      (22L, Array(Float.PositiveInfinity, 10f, 10f, 10f)))
      .toDF("vec_id", "embedding")
    val dirty = blobs.unionByName(bad)
    val badIds = Set(0L, 21L, 22L)
    def close(a: Array[Array[Double]], b: Array[Array[Double]]) =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        x.zip(y).forall { case (u, v) => math.abs(u - v) < 1e-9 } }

    val cents = Clustering.kmeansCentroids(dirty, "vec_id", "embedding", 2, 2)
    assert(close(cents, Clustering.kmeansCentroids(blobs, "vec_id", "embedding", 2, 2)))
    val books = Similarity.pqTrain(dirty, "vec_id", "embedding", m = 2, k = 2, maxIter = 2)
    val clean = Similarity.pqTrain(blobs, "vec_id", "embedding", m = 2, k = 2, maxIter = 2)
    assert(books.indices.forall(s => close(books(s), clean(s))))

    def clusters(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    for (out <- Seq(
        clusters(Clustering.assign(dirty, "vec_id", "embedding", cents)),
        clusters(Clustering.kmeans(dirty, "vec_id", "embedding", 2, 2)))) {
      assert(badIds.forall(out(_).isEmpty))
      assert(out.filter(kv => !badIds(kv._1)) ==
        clusters(Clustering.assign(blobs, "vec_id", "embedding", cents)))
    }
    // subspace 0 of every bad row is null/NaN/Inf -> null code there
    val codes = Similarity.pqEncode(dirty, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(badIds.forall(id => codes(id).head == null))
    assert(codes.filter(kv => !badIds(kv._1)).values.forall(_.forall(_ != null)))
    // the consumers leave unassigned rows out
    val sil = Clustering.silhouette(dirty, "vec_id", "embedding", 2, 2).collect()
    assert(sil.map(_.getAs[Long]("n_points")).sum == 20 && !sil.exists(_.isNullAt(0)))
    val div = Clustering.diversitySample(dirty, "vec_id", "embedding", 2, 2, 20)
      .collect().map(_.getLong(1)).toSet
    assert(div == (1L to 20L).toSet)
  }

  test("diversitySample returns the most central members per cluster") {
    val out = Clustering.diversitySample(blobs, "vec_id", "embedding",
      k = 2, maxIter = 2, perCluster = 3).collect()
    val byCluster = out.groupBy(_.getInt(0))
    assert(byCluster.size == 2)
    byCluster.values.foreach { rows =>
      assert(rows.length == 3)
      assert(rows.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3))
    }
    // rank-1 members are strictly more central than rank-3 members:
    // blob interiors (x near the mean) beat the jitter extremes
    val ids = out.map(_.getLong(1)).toSet
    assert(ids.size == 6)
  }

  test("semantic pairs: subset of exact pairs, full recall inside blobs") {
    val exact = Dedup.exactCosinePairs(blobs, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Clustering.semanticNearDupPairs(blobs, "vec_id", "embedding",
        k = 2, maxIter = 2, threshold = 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact))     // blocking never invents pairs
    // blobs are tighter than any cross-blob pair: clusters == blobs,
    // so within-blob near-dup pairs are ALL recovered
    assert(sem == exact, s"missed: ${exact -- sem}")
    assert(exact.nonEmpty)
  }

  test("silhouette separates tight far blobs near 1, boundary mush near 0") {
    // two tight blobs far apart -> silhouette ~1 per cluster
    val far = Clustering.silhouette(blobs, "vec_id", "embedding",
      k = 2, maxIter = 3).collect()
    assert(far.length == 2)
    assert(far.forall(_.getAs[Double]("mean_silhouette") > 0.8))
    // one homogeneous cloud split into 2 -> silhouette collapses
    import spark.implicits._
    val cloud = (1 to 40).map(i =>
      (i.toLong, Array((i % 7).toFloat / 100, (i % 5).toFloat / 100)))
      .toDF("vec_id", "embedding")
    val mush = Clustering.silhouette(cloud, "vec_id", "embedding",
      k = 2, maxIter = 3).collect()
    assert(mush.forall(_.getAs[Double]("mean_silhouette") < 0.8))
    assertThrows[IllegalArgumentException](
      Clustering.silhouette(blobs, "vec_id", "embedding", 1, 1))
  }

  test("guards: k must be satisfiable and parameters positive") {
    assertThrows[IllegalArgumentException](
      Clustering.kmeans(blobs, "vec_id", "embedding", 0, 1))
    assertThrows[IllegalArgumentException](
      Clustering.kmeans(blobs.limit(1), "vec_id", "embedding", 5, 1))
    assertThrows[IllegalArgumentException](
      Clustering.diversitySample(blobs, "vec_id", "embedding", 2, 1, 0))
  }

  test("clusterPurity: majority fraction per cluster, ties share the max") {
    import spark.implicits._
    val assign = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1), (5L, 1), (6L, 1),
      (7L, 1)).toDF("vec_id", "cluster")
    val labels = Seq((1L, "x"), (2L, "x"), (3L, "y"),       // 2/3 pure
      (4L, "x"), (5L, "x"), (6L, "y"), (7L, "y"))           // 2-2 tie
      .toDF("vec_id", "label")
    val out = Clustering.clusterPurity(assign, labels, "vec_id", "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0) == ((3L, 2L, 0.666667)))
    assert(out(1) == ((4L, 2L, 0.5)))    // tie: the shared max, no break needed
  }
}
