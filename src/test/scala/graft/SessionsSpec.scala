package graft

/** Pins the shared session configuration every entry point builds
  * through [[Sessions.serviceBuilder]].
  * The set exists because each config was measured as load-bearing; a
  * drive-by edit that drops one must fail here, not in a bench round.
  */
class SessionsSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("ServiceConfs carries the benched load-bearing configs") {
    val m = Sessions.ServiceConfs.toMap
    assert(m("spark.sql.adaptive.enabled") == "true")
    assert(m("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(m("spark.sql.codegen.cache.maxEntries") == "3000",
      "the default 100-entry codegen cache thrashes under the ~67-query catalog")
    assert(m("spark.scheduler.mode") == "FAIR",
      "concurrent requests must share the pool, not FIFO-starve")
  }

  test("reducer counts come from data size: AQE starts at 8x cores and " +
      "coalesces down (the r17 500M-event decade measured the static " +
      "knob sorting 15.6M rows/reducer: 552s vs 246-363s)") {
    assert(Sessions.initialPartitions("32") == "256")
    assert(Sessions.initialPartitions("8") == "64")
    val m = Sessions.serviceConfPairs("32").toMap
    assert(m.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .contains("256"), "the posture must reach every serving session")
  }

  test("the AQE start is sized to the input when the entry point knows " +
      "its data dir: tiny dirs start at cores (the flat 8x start taxed " +
      "q5_region 1.42x and the ingest daemon 1.7x at sf0.1 — r18 A/B), " +
      "multi-GB dirs keep the full scale headroom, unsizable dirs fall " +
      "back to the scale-safe flat start") {
    // 17 MB (sf0.1-shaped): est shuffle 68 MB -> 2 reducers -> clamp to cores
    assert(Sessions.initialPartitionsSized("32", 17L << 20) == "32")
    // 4 GB: est shuffle 16 GB -> 256 reducers == the 8x cores ceiling
    assert(Sessions.initialPartitionsSized("32", 4L << 30) == "256")
    // mid-size: 800 MB -> est 3.2 GB / 64 MB = 50 reducers, inside the clamp
    assert(Sessions.initialPartitionsSized("32", 800L << 20) == "50")
    // unsizable input NEVER degrades to the small posture
    assert(Sessions.initialPartitionsSized("32", -1L) ==
      Sessions.initialPartitions("32"))
    assert(Sessions.dirBytes("/nonexistent/path/xyz") == -1L)
    // and the sized posture reaches the session confs when a dir is given
    val tiny = java.nio.file.Files.createTempDirectory("sessions-spec").toString
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(tiny, "x.parquet"),
        Array.fill[Byte](1024)(0))
      java.nio.file.Files.write(java.nio.file.Paths.get(tiny, "y.parquet"),
        Array.fill[Byte](1024)(0))
      val m = Sessions.serviceConfPairs("32", Some(tiny)).toMap
      assert(m.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        .contains("32"), "a KB-scale dir must start at cores, not 8x cores")
      // the shuffle codec rides the same size signal: page-cache-scale
      // inputs keep Spark's lz4 default, posture-saturating inputs get
      // zstd (the r18 500M A/B — SCALE.md)
      assert(!m.contains("spark.io.compression.codec"),
        "small inputs must keep the default codec")
      // the walk is genuinely bounded: it stops as soon as the running
      // sum saturates the clamp (a 100 TB store pays a few GB of
      // listing, never a full-tree walk)
      assert(Sessions.dirBytes(tiny) == 2048L)
      assert(Sessions.dirBytes(tiny, stopAt = 1L) == 1024L,
        "the walk must stop at the first file once stopAt is reached")
      // 8 x 32 reducers x 64 MB advisory / 4x expansion, +1 to cross it
      assert(Sessions.posturesSaturatedAt("32") == (4L << 30) + 1)
      // the positive codec branch, via a sparse file (logical size is
      // what a store reports; no 5 GB actually written)
      val bigDir = java.nio.file.Files.createTempDirectory("sessions-spec-big")
      val big = new java.io.RandomAccessFile(bigDir.resolve("big.parquet").toFile, "rw")
      try {
        big.setLength(5L << 30)
        big.close()
        val mb = Sessions.serviceConfPairs("32", Some(bigDir.toString)).toMap
        assert(mb.get("spark.io.compression.codec").contains("zstd"),
          "posture-saturating inputs must shuffle zstd")
        assert(mb.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
          .contains("256"), "and keep the full 8x cores start")
      } finally {
        java.nio.file.Files.deleteIfExists(bigDir.resolve("big.parquet"))
        java.nio.file.Files.deleteIfExists(bigDir)
      }
    } finally {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tiny, "x.parquet"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tiny, "y.parquet"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tiny))
    }
  }

  test("the core count defaults to the host's processors; SPARK_GRAFT_CPUS overrides it") {
    val host = Runtime.getRuntime.availableProcessors.toString
    assert(Sessions.cpus(Map.empty) == host)
    assert(Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> " ")) == host,
      "a blank setting must not become local[ ]")
    assert(Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == "3")
    val bad = intercept[IllegalArgumentException](Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> "four")))
    assert(bad.getMessage.contains("SPARK_GRAFT_CPUS"), bad.getMessage)
  }

  test("serviceConfPairs (what serviceBuilder applies) covers drift + service + parallelism") {
    val m = Sessions.serviceConfPairs("32").toMap
    Sessions.DriftConfs.foreach { case (k, v) =>
      assert(m.get(k).contains(v), s"drift defense $k=$v must reach the serving session")
    }
    Sessions.ServiceConfs.foreach { case (k, v) =>
      assert(m.get(k).contains(v), s"service conf $k=$v must reach the serving session")
    }
    assert(m.get("spark.sql.shuffle.partitions").contains("32"),
      "shuffle parallelism must match the core count")
  }
}
