package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftCacheBridge, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Decontam, Dedup, JobLeg, Quantize, Similarity}
import graft.queries.{Tables, VectorQueries}
import graft.stats.DescribeStats

class ParScopedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  /** Job-group ids of every Spark job `body` starts, in start order. */
  private def jobGroups(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    GraftBusBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftBusBridge.waitUntilListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
    groups.asScala.toSeq
  }

  test("Par: pool bodies carry the caller's JobLeg tag, and no stale one") {
    val sc = spark.sparkContext
    def count(i: Int): Long = sc.parallelize(0 until 100 + i, 2).count() // 1 job
    val tagged = jobGroups {
      JobLeg.tagged(spark, "x") {
        assert(Par.map(Seq(1, 2, 3, 4))(count) == Seq(101L, 102L, 103L,
          104L))
        assert(Par.both(count(5), count(6)) == ((105L, 106L)))
      }
    }
    assert(tagged.size == 6)
    assert(tagged.forall(_ == JobLeg.Prefix + "x"), tagged)
    // the pool's threads were created under the tag above; an untagged
    // call on the same pool must carry the caller's (absent) group
    val caller = Option(sc.getLocalProperty("spark.jobGroup.id"))
      .getOrElse("<none>")
    assert(!caller.startsWith(JobLeg.Prefix))
    val untagged = jobGroups {
      assert(Par.map(Seq(1, 2, 3, 4))(count).sum == 410L)
      Par.both(count(5), count(6))
    }
    assert(untagged.size == 6)
    assert(untagged.forall(_ == caller), untagged)
  }

  test("Par: returns only after every body ran, rethrowing the failure") {
    spark // Par reads the caller's active session
    val done = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[IllegalStateException] {
      Par.map(Seq(0, 1, 2)) { i =>
        if (i == 1) throw new IllegalStateException("boom")
        Thread.sleep(200)
        done.incrementAndGet()
      }
    }
    assert(e.getMessage == "boom")
    assert(done.get == 2)
    assert(intercept[IllegalArgumentException] {
      Par.both(throw new IllegalArgumentException("first"), 1)
    }.getMessage == "first")
  }

  test("Scoped: releases a Dataset and an RDD on return and on a throw") {
    val sc = spark.sparkContext
    def cached = GraftCacheBridge.cachedEntries(spark)
    val entries = cached
    val rdds = sc.getPersistentRDDs.keySet
    val df = spark.range(0, 1000).toDF("id").filter(col("id") % 7 === 3)
    assert(Scoped(df) {
      assert(cached == entries + 1)
      df.count()
    } == 143L)
    assert(cached == entries)
    intercept[ArithmeticException] {
      Scoped(df) { df.count(); throw new ArithmeticException("x") }
    }
    assert(cached == entries)
    val rdd = sc.parallelize(1 to 100)
    assert(Scoped(rdd) {
      assert(sc.getPersistentRDDs.contains(rdd.id))
      rdd.sum()
    } == 5050.0)
    intercept[ArithmeticException] {
      Scoped(rdd) { rdd.count(); throw new ArithmeticException("y") }
    }
    assert(sc.getPersistentRDDs.keySet == rdds)
    assert(cached == entries)
  }

  test("converted operators leave the cache as they found it") {
    val sc = spark.sparkContext
    def cached = GraftCacheBridge.cachedEntries(spark)
    val entries = cached
    val rdds = sc.getPersistentRDDs.keySet
    def unchanged(what: String)(body: => Unit): Unit = {
      body
      assert(cached == entries, s"$what left a cache entry")
      assert(sc.getPersistentRDDs.keySet == rdds,
        s"$what left persisted RDDs")
    }
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    unchanged("describe")(DescribeStats.describe(li,
      Seq("l_quantity", "l_discount")).collect())
    val emb = Tables.load(spark, dir, "embeddings")
    unchanged("trainPq")(Quantize.trainPq(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2).collect())
    unchanged("trainCodebook (bounded)")(Similarity.trainCodebook(emb,
      "vec_id", "embedding", 8, iters = 2, samplePerCentroid = 8).collect())
    val docs = Tables.load(spark, dir, "documents")
    unchanged("jaccardDispatchProbe")(
      Dedup.jaccardDispatchProbe(docs, "text", "doc_id", 3, 0.8))
    val p: DataFrame = Seq((1L, "a", "alpha beta beta gamma"),
      (2L, "b", "delta alpha")).toDF("id", "src", "text")
    val q: DataFrame = Seq((3L, "a", "alpha zeta"),
      (4L, "b", "delta delta eta")).toDF("id", "src", "text")
    unchanged("tokenKlReport")(
      Decontam.tokenKlReport(p, q, "text").collect())
    unchanged("klReportBy")(
      Decontam.klReportBy(p, q, "src", "text").collect())
    val converted = Set("q_pq_search", "q_pq_sdc_recall",
      "q_pq_search_clustered", "q_sdc_clustered", "q_project_knn_clustered")
    val qs = VectorQueries.queries.filter(q => converted(q.name))
    assert(qs.map(_.name).toSet == converted)
    qs.foreach(qd => unchanged(qd.name)(qd.run(spark, dir).collect()))
  }

  test("no hand-rolled Futures outside Par in src/main") {
    val banned = Seq("ExecutionContext.Implicits.global", "Await.result",
      "Future(")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Par.scala").toSeq
    assert(files.size > 50)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${root.relativize(f)}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
