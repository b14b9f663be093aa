package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Doc, StreamOps, Vec}

/** Checkpoint block lifetimes ([[graft.Checkpoints]]): an iterative
  * operator leaves persisted only the checkpoints that back the frame
  * it returns, concurrent operators on one session never free each
  * other's blocks, and `Sessions.releaseCheckpoints` frees the calling
  * thread's checkpoints only, never a caller's own cache or checkpoint.
  */
class CheckpointsSpec extends AnyFunSuite {

  lazy val spark = graft.Sessions.build("local[4]", "4")

  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDDs in the lineage of the frame's RDD leaves. */
  private def backing(df: DataFrame): Set[Int] = {
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      .flatMap(lineage).map(_.id).toSet & persisted
  }

  /** Runs `op` and returns its frame with the RDDs it left persisted;
    * asserts that each of them backs the returned frame.
    */
  private def leftBehind(op: => DataFrame): (DataFrame, Set[Int]) = {
    val before = persisted
    val out = op
    val left = persisted -- before
    assert(left.subsetOf(backing(out)),
      s"persisted RDDs ${left -- backing(out)} do not back the returned frame")
    (out, left)
  }

  private def chain(n: Long): DataFrame = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")

  test("releaseCheckpoints frees checkpoints but keeps a caller's cached frame") {
    val before = persisted
    val cached = spark.range(1000).toDF("x").cache()
    assert(cached.count() == 1000)
    val cachedIds = persisted -- before
    assert(cachedIds.size == 1)
    val ckpt = graft.Checkpoints.take(spark.range(10).toDF("y"))
    assert(backing(ckpt).size == 1)
    val own = spark.range(10).toDF("z").localCheckpoint()
    val ownIds = backing(own)
    assert(ownIds.size == 1)
    try {
      graft.Sessions.releaseCheckpoints(spark)
      assert(cachedIds.subsetOf(persisted), "a caller's cache() must survive release")
      assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
        cachedIds.contains(i.id) && i.numCachedPartitions > 0), "cached blocks were dropped")
      assert(backing(ckpt).isEmpty, "the checkpoint's blocks must be freed")
      assert(ownIds.subsetOf(persisted), "a caller's own localCheckpoint() must survive release")
      assert(own.count() == 10)
      assert(cached.count() == 1000)
    } finally {
      cached.unpersist(blocking = true)
      own.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
        .foreach(_.unpersist(blocking = true))
    }
  }

  test("another thread's release leaves a returned frame's checkpoint readable") {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val sequential = rows(LlmOps.connectedComponents(chain(20)))
    graft.Sessions.releaseCheckpoints(spark)
    val built, released = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // B holds a frame backed by its final labels checkpoint
      val b = Future {
        val labels = LlmOps.connectedComponents(chain(20))
        built.countDown()
        assert(released.await(10, TimeUnit.MINUTES))
        try rows(labels) finally graft.Sessions.releaseCheckpoints(spark)
      }
      // A runs its own key and releases it while B's frame is unread
      val a = Future {
        assert(built.await(10, TimeUnit.MINUTES))
        try graft.SparkEntry.queries("graph_connected_components")(spark,
          "/root/testdata/sf0.001").collect()
        finally {
          graft.Sessions.releaseCheckpoints(spark)
          released.countDown()
        }
      }
      assert(Await.result(a, 10.minutes).nonEmpty)
      assert(Await.result(b, 10.minutes) == sequential)
    } finally pool.shutdown()
  }

  test("only graft.Checkpoints takes a checkpoint, and nothing reads the context's persisted set") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> new String(Files.readAllBytes(f), UTF_8)).toSeq
    assert(sources.size > 20)
    assert(sources.filter(_._2.contains("localCheckpoint(")).map(_._1) ==
      Seq("graft/Checkpoints.scala"))
    assert(sources.filter(_._2.contains("getPersistentRDDs")).map(_._1).isEmpty)
  }

  for (key <- Seq("sim_mmr_diversify", "graph_louvain_pass"))
    test(s"$key leaves only its frame's checkpoints, and release frees them") {
      val before = persisted
      val (out, _) = leftBehind(graft.SparkEntry.queries(key)(spark, "/root/testdata/sf0.001"))
      assert(out.count() > 0)
      graft.Sessions.releaseCheckpoints(spark)
      // a subset, not equality: an earlier suite's dropped frame may be
      // cleaned by the ContextCleaner meanwhile
      assert(persisted.subsetOf(before), s"$key left ${persisted -- before}")
    }

  test("propagation CC leaves only its final labels checkpoint") {
    val (labels, left) = leftBehind(LlmOps.connectedComponents(chain(20)))
    assert(left.size == 1)
    assert(labels.select("lbl").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    graft.Sessions.releaseCheckpoints(spark)
  }

  test("pointer-jumping CC leaves only its final labels checkpoint") {
    val nodes = spark.range(64).toDF("id")
    val (cc, left) = leftBehind(GraphOps.pointerJumpCC(nodes, chain(64)))
    assert(left.size == 1)
    assert(cc.select("comp").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    graft.Sessions.releaseCheckpoints(spark)
  }

  test("a failed CC frees every checkpoint it took") {
    val before = persisted
    intercept[IllegalArgumentException](LlmOps.connectedComponents(chain(40), maxIter = 2))
    intercept[IllegalStateException](
      GraphOps.pointerJumpCC(spark.range(4096).toDF("id"), chain(4096), maxIter = 2))
    assert(persisted == before)
  }

  test("pageRank leaves only its final ranks checkpoint") {
    val verts = spark.range(30).select(col("id").as("vid"))
    val edges = (0L until 30L).flatMap(i => Seq((i, (i + 1) % 30), (i, (i * 7) % 30)))
      .toDF("src", "dst")
    val (ranks, left) = leftBehind(LlmOps.pageRank(verts, edges, iters = 6))
    assert(left.size == 1)
    assert(ranks.count() == 30)
    graft.Sessions.releaseCheckpoints(spark)
  }

  test("NN-descent leaves only its final round's checkpoint") {
    val emb = (0L until 40L).map(i =>
      (i, Array(math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val seed = (0L until 40L).map(i => (i, (i + 13) % 40, 0.0)).toDF("qid", "nbr", "cos")
    val (out, left) = leftBehind(LlmOps.nnDescentFrom(emb, seed, k = 3, rounds = 3))
    assert(left.size == 1)
    assert(out.count() == 40 * 3)
    graft.Sessions.releaseCheckpoints(spark)
  }

  test("Boruvka MST leaves one checkpoint whatever its round count") {
    val (mst, left) = leftBehind(
      graft.SparkEntry.queries("graph_mst_boruvka")(spark, "/root/testdata/sf0.01"))
    assert(left.size == 1, s"left $left persisted")
    assert(mst.count() == 1500 - 25) // a spanning forest: one tree per nation
    graft.Sessions.releaseCheckpoints(spark)
  }

  test("iterative keys run concurrently on one session give their sequential rows") {
    val keys = Seq("graph_connected_components", "dedup_cluster_canonical")
    def rows(key: String): Seq[String] =
      graft.SparkEntry.queries(key)(spark, "/root/testdata/sf0.01")
        .collect().map(_.toString).toSeq
    val sequential = keys.map(k => k -> rows(k)).toMap
    graft.Sessions.releaseCheckpoints(spark)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val start = new CountDownLatch(1)
      val runs = keys.map(k => Future {
        start.await()
        try k -> rows(k) finally graft.Sessions.releaseCheckpoints(spark)
      })
      start.countDown()
      val concurrent = Await.result(Future.sequence(runs), 10.minutes).toMap
      keys.foreach(k => assert(concurrent(k) == sequential(k), s"$k rows differ"))
      assert(sequential.values.forall(_.nonEmpty))
    } finally {
      pool.shutdown()
      graft.Sessions.releaseCheckpoints(spark)
    }
  }

  test("streaming near-dup and SemDeDup batches hold no checkpoint after they return") {
    val before = persisted
    val idx = java.nio.file.Files.createTempDirectory("ckpt-neardup").toString
    val docs = MemoryStream[Doc](spark)
    val ts = new java.sql.Timestamp(0L)
    val q = StreamOps.corpusNearDup(docs.toDF(), idx)(_.count())
    try for (b <- 0 until 3) {
      docs.addData((0 until 4).map(i => Doc(b * 10L + i, ts,
        s"batch $b doc $i shares these words with its batch mates ${i % 2}")): _*)
      q.processAllAvailable()
      assert(persisted == before, s"near-dup batch $b left ${persisted -- before}")
    } finally q.stop()

    val vecs = graft.T(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding").as[Vec].collect().sortBy(_.vec_id).take(150)
    val sidx = java.nio.file.Files.createTempDirectory("ckpt-semdedup").toString
    val ms = MemoryStream[Vec](spark)
    val sq = StreamOps.corpusSemDedup(ms.toDF(), sidx)(_.count())
    try for ((sl, b) <- vecs.grouped(50).zipWithIndex) {
      ms.addData(sl.toSeq: _*)
      sq.processAllAvailable()
      assert(persisted == before, s"SemDeDup batch $b left ${persisted -- before}")
    } finally sq.stop()
  }
}
