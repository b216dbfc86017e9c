package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.Random

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Local union-find ground truth. */
  private def ufClusters(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // root is not necessarily the min under rank-less union; recompute min per root
    val byRoot = parent.keys.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
  }

  private def run(pairs: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] =
    ConnectedComponents
      .clusters(pairs.toDF("a", "b"), "a", "b", maxIter)
      .as[(Long, Long)].collect().toMap

  test("two components, min id wins as the cluster label") {
    val got = run(Seq((5L, 2L), (2L, 9L), (30L, 40L)))
    assert(got == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 30L -> 30L, 40L -> 30L))
  }

  test("a 100-node chain converges within the pointer-jumping bound") {
    val chain = (0L until 99L).map(i => (i, i + 1))
    // O(log d): a 100-chain must close well inside 10 rounds, not ~100
    val got = run(chain, maxIter = 10)
    assert(got.size == 100 && got.values.forall(_ == 0L))
  }

  test("random graphs match union-find ground truth") {
    val rnd = new Random(42)
    (1 to 3).foreach { _ =>
      val pairs = Seq.fill(120)(
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(p => p._1 != p._2)
      assert(run(pairs) == ufClusters(pairs))
    }
  }

  test("empty pair list yields an empty, well-typed result") {
    val out = ConnectedComponents.clusters(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(out.columns.toSeq == Seq("id", "cluster_id") && out.isEmpty)
  }

  test("reliable=true without a checkpoint dir fails fast, not mid-round") {
    // registered BEFORE the checkpoint-dir test: a session's checkpoint
    // dir cannot be unset once set
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val ex = intercept[IllegalArgumentException] {
        ConnectedComponents.clusters(
          Seq((1L, 2L)).toDF("a", "b"), "a", "b", reliable = true)
      }
      assert(ex.getMessage.contains("setCheckpointDir"))
    }
  }

  test("reliable=true: checkpoint-dir session yields identical clusters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    val saved = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val rnd = new Random(7)
      val pairs = Seq.fill(150)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2)
      val fast = run(pairs)
      // no broadcast joins, as at corpus scale: a broadcast of the edges
      // side runs a collect job whose checkpoint pass happens to write
      // the edges frame, hiding whether the operator itself writes it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val durable =
        try ConnectedComponents
          .clusters(pairs.toDF("a", "b"), "a", "b", maxIter = 25, reliable = true)
          .as[(Long, Long)].collect().toMap
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(durable == fast && durable == ufClusters(pairs))
      // the reliable run wrote the loop-invariant edges frame itself to
      // the checkpoint dir, not only the per-round labels: read every
      // checkpointed RDD back and look for the directed edge set
      val directed = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSet
      val ser = org.apache.spark.SparkEnv.get.serializer.newInstance()
      // checkpoint files go through the session's io codec (lz4 here)
      // when spark.checkpoint.compress is on, the Spark 4.1 default
      val conf = spark.sparkContext.getConf
      val lz4 = new org.apache.spark.io.LZ4CompressionCodec(conf)
      val compressed = conf.getBoolean("spark.checkpoint.compress", true)
      def files(p: java.nio.file.Path, prefix: String) =
        java.nio.file.Files.walk(p).iterator().asScala
          .filter(_.getFileName.toString.startsWith(prefix)).toList
      val checkpointed = files(dir, "rdd-").map { rdd =>
        files(rdd, "part-").flatMap { part =>
          val raw = java.nio.file.Files.newInputStream(part)
          val in = if (compressed) lz4.compressedInputStream(raw) else raw
          try ser.deserializeStream(in).asIterator.map {
            case r: org.apache.spark.sql.catalyst.InternalRow =>
              r.getLong(0) -> r.getLong(1)
          }.toList
          finally in.close()
        }.toSet
      }
      assert(checkpointed.nonEmpty, "reliable=true never touched the checkpoint dir")
      assert(checkpointed.exists(_ == directed),
        s"no checkpointed RDD holds the edges (${checkpointed.size} RDDs written)")
    } finally {
      saved.foreach(spark.sparkContext.setCheckpointDir)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("dedupAssign: singletons kept, one keeper per cluster, sizes right") {
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = Seq((3L, 1L), (1L, 7L), (5L, 6L)).toDF("a", "b")
    val out = ConnectedComponents.dedupAssign(docs, "doc_id", pairs, "a", "b")
      .select($"doc_id", $"cluster_id", $"cluster_size", $"keep")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    val expected = Seq(
      (1L, 1L, 3L, 1), (2L, 2L, 1L, 1), (3L, 1L, 3L, 0), (4L, 4L, 1L, 1),
      (5L, 5L, 2L, 1), (6L, 5L, 2L, 0), (7L, 1L, 3L, 0), (8L, 8L, 1L, 1))
    assert(out.toSeq == expected)
  }
}
