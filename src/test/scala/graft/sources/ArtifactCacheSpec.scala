package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ArtifactCacheSpec extends SparkSpec {

  test("ensure builds once, then serves without re-building") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    val path = s"$root/squares"
    val builds = new AtomicInteger()
    def served() = StandingArtifact.ensure(spark, path) {
      builds.incrementAndGet()
      (1 to 10).toDF("n").select(col("n"), (col("n") * col("n")).as("sq"))
    }
    assert(served().count() == 10)
    assert(served().count() == 10)
    assert(builds.get() == 1, "an existing artifact must never pay the build plan")
  }

  test("concurrent cold ensures serialize to exactly one build") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    val path = s"$root/concurrent"
    val builds = new AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = StandingArtifact.ensure(spark, path) {
            builds.incrementAndGet()
            Thread.sleep(50) // widen the race window
            (1 to 10).toDF("n")
          }.count()
        })
      }
      assert(futures.map(_.get()).forall(_ == 10L),
        "every racing caller must see the committed artifact")
      assert(builds.get() == 1,
        "racing cold builders must serialize behind the per-path lock")
    } finally pool.shutdown()
  }

  test("wipe + forget forces a rebuild; forget is prefix-scoped") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    val path = s"$root/cubes"
    val builds = new AtomicInteger()
    def served() = StandingArtifact.ensure(spark, path) {
      builds.incrementAndGet()
      (1 to 5).toDF("n")
    }
    served().count()
    // wipe the artifact the way a rebuild-and-retime run does
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    RelationCache.invalidate(path)
    ArtifactCache.forget(path)
    assert(served().count() == 5, "a forgotten artifact must rebuild and serve")
    assert(builds.get() == 2, "the wipe+forget cycle must re-run the build")
  }

  test("forget is separator-scoped: a sibling name extending the prefix survives") {
    val a = s"/idx/ivf-scale-c16-${System.nanoTime()}"
    val sibling = a + "0" // a distinct artifact, not a child of `a`
    ArtifactCache.add(a)
    ArtifactCache.add(a + "/vectors")
    ArtifactCache.add(sibling)
    ArtifactCache.forget(a)
    assert(!ArtifactCache.committed(a)(false), "the prefix itself must be forgotten")
    assert(!ArtifactCache.committed(a + "/vectors")(false), "children must be forgotten")
    assert(ArtifactCache.committed(sibling)(fail("sibling must stay cached")))
  }

  test("a failed build commits nothing; the next ensure rebuilds the whole tree") {
    val root = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    val path = s"$root/tree"
    val attempts = new AtomicInteger()
    def run(): Unit = StandingArtifact.ensureCommitted(spark, path) { tmp =>
      spark.range(3).toDF("n").write.parquet(s"$tmp/vectors")
      if (attempts.incrementAndGet() == 1)
        throw new RuntimeException("job died between the tree's writes")
      spark.range(2).toDF("c").write.parquet(s"$tmp/centroids")
    }
    intercept[RuntimeException](run())
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)),
      "a build that dies mid-tree must leave the path absent, never half-built")
    run()
    for (sub <- Seq("_SUCCESS", "vectors/_SUCCESS", "centroids/_SUCCESS"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$sub")),
        s"the rebuilt artifact must be fully committed ($sub)")
    assert(attempts.get() == 2, "the failed path must stay rebuildable")
  }

  test("a nested marker the builder does not write is touched at commit") {
    val root = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    val path = s"$root/marked"
    val builds = new AtomicInteger()
    def run(): Unit =
      StandingArtifact.ensureCommitted(spark, path, marker = "batch=0/_done") { tmp =>
        builds.incrementAndGet()
        spark.range(3).toDF("n").write.parquet(s"$tmp/batch=0")
      }
    run()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/batch=0/_done")),
      "the commit must create the marker the existence check keys on")
    run()
    assert(builds.get() == 1, "the touched marker must satisfy the next ensure")
  }

  test("in-place ensure preserves sibling data the build did not write") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-artifact").toString
    val path = s"$root/appendable"
    // a partition admitted BEFORE the base ensure (append-able artifact)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    Seq((7L, 5L)).toDF("v", "batch")
      .write.mode("overwrite").partitionBy("batch").parquet(path)
    StandingArtifact.ensureMarkedInPlace(spark, path, marker = "batch=0/_done") {
      Seq((1L, 0L)).toDF("v", "batch")
        .write.mode("overwrite").partitionBy("batch").parquet(path)
    }
    val batches = spark.read.parquet(path).select("batch").distinct()
      .collect().map(_.get(0).toString.toLong).sorted.toSeq
    assert(batches == Seq(0L, 5L),
      "the in-place base build must never destroy previously admitted partitions")
  }

  test("negative existence is never cached") {
    val checks = new AtomicInteger()
    val key = s"/no/such/artifact-${System.nanoTime()}"
    assert(!ArtifactCache.committed(key) { checks.incrementAndGet(); false })
    assert(!ArtifactCache.committed(key) { checks.incrementAndGet(); false })
    assert(checks.get() == 2, "absent artifacts must stay re-checkable until committed")
    assert(ArtifactCache.committed(key) { checks.incrementAndGet(); true })
    assert(ArtifactCache.committed(key) { checks.incrementAndGet(); fail("cached") })
    assert(checks.get() == 3, "a positive check must cache")
  }
}
