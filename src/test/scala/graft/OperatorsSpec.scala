package graft

import graft.config._
import graft.operators._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ---- C1 high-watermark resume -------------------------------------

  test("C1 resume: empty dir leaves the range untouched") {
    val dir = Files.createTempDirectory("wm")
    assert(HighWatermark.resume(dir, 100, 200) === ((100L, None)))
  }

  test("C1 resume: start advances past max completed endpoint") {
    val dir = Files.createTempDirectory("wm")
    HighWatermark.markDone(dir, 100, 150)
    HighWatermark.markDone(dir, 150, 180)
    assert(HighWatermark.resume(dir, 100, 200) === ((180L, None)))
  }

  test("C1 resume: reverse mode pulls end below min completed start") {
    val dir = Files.createTempDirectory("wm")
    HighWatermark.markDone(dir, 150, 200)
    assert(HighWatermark.resume(dir, 100, 200, reverse = true) === ((100L, Some(150L))))
  }

  test("C1 resume: fully-indexed range fails fast (reference panics)") {
    val dir = Files.createTempDirectory("wm")
    HighWatermark.markDone(dir, 0, 200)
    intercept[IllegalArgumentException] {
      HighWatermark.resume(dir, 100, 200)
    }
  }

  test("C1 resume: foreign files in the marker dir are ignored") {
    val dir = Files.createTempDirectory("wm")
    Files.writeString(dir.resolve("README"), "not a range")
    HighWatermark.markDone(dir, 100, 120)
    assert(HighWatermark.resume(dir, 100, 200) === ((120L, None)))
  }

  test("C1 resume: reference single-number markers are honored (main.rs:203-231)") {
    val dir = Files.createTempDirectory("wm")
    // a reference-written dir: block 119 indexed -> forward resumes at 120
    Files.writeString(dir.resolve("119"), "")
    assert(HighWatermark.resume(dir, 100, 200) === ((120L, None)))
    // reverse: completed start 119 -> new exclusive end 119
    assert(HighWatermark.resume(dir, 10, 200, reverse = true) === ((10L, Some(119L))))
  }

  test("C1 resume: overflowing digit strings are foreign files, not crashes") {
    val dir = Files.createTempDirectory("wm")
    Files.writeString(dir.resolve("99999999999999999999999999"), "")
    HighWatermark.markDone(dir, 100, 120)
    assert(HighWatermark.resume(dir, 100, 200) === ((120L, None)))
  }

  // ---- C4 metrics ----------------------------------------------------

  test("C4 accumulators count requests and failures from executors") {
    val m = new EngineMetrics(spark.sparkContext)
    val rdd = spark.sparkContext.parallelize(1 to 100, 4)
    rdd.foreach { i =>
      try m.countRequest { if (i % 10 == 0) throw new RuntimeException("rpc down") }
      catch { case _: RuntimeException => }
    }
    val snap = m.snapshot()
    assert(snap("request_count") === 100)
    assert(snap("failed_request_count") === 10)
  }

  test("C4 Prometheus text exposition matches the reference scrape format") {
    val m = new EngineMetrics(spark.sparkContext)
    m.requestCount.add(7)
    m.failedRequestCount.add(2)
    val text = m.exposition()
    // reference counter names + help strings (src/main.rs:297-306)
    assert(text.contains("# HELP request_count Total number of requests for all APIs\n"))
    assert(text.contains("# TYPE request_count counter\nrequest_count 7\n"))
    assert(text.contains("# HELP failed_request_count Total number of request failures for all APIs\n"))
    assert(text.contains("failed_request_count 2\n"))
    // every sample line is NAME SPACE INT, every meta line HELP/TYPE
    text.linesIterator.foreach { l =>
      assert(l.startsWith("# HELP ") || l.startsWith("# TYPE ")
        || l.matches("[a-z_]+ \\d+"), s"malformed exposition line: $l")
    }
  }

  test("C4 /metrics endpoint serves the exposition over HTTP") {
    val m = new EngineMetrics(spark.sparkContext)
    m.recordsPublished.add(41)
    val srv = m.serve(0)
    try {
      val url = new java.net.URI(
        s"http://127.0.0.1:${srv.getAddress.getPort}/metrics").toURL
      val body = new String(url.openStream().readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(body.contains("records_published 41\n"))
      assert(body == m.exposition())
    } finally srv.stop(0)
  }

  test("C4 PlanCache hit/miss counters flow through the exposition") {
    val (h0, m0) = PlanCache.stats
    val tag = s"metrics_spec_${System.nanoTime()}" // unique per run
    PlanCache.memo(spark, "/tmp", tag)(spark.range(3).toDF("x"))
    PlanCache.memo(spark, "/tmp", tag)(spark.range(3).toDF("x"))
    val (h1, m1) = PlanCache.stats
    assert(m1 === m0 + 1, "first memo call must be a miss")
    assert(h1 === h0 + 1, "second memo call must be a hit")
    val text = new EngineMetrics(spark.sparkContext).exposition()
    assert(text.contains(s"plancache_hit_count $h1\n"), text)
    assert(text.contains(s"plancache_miss_count $m1\n"), text)
  }

  // ---- C6/C7 config validation --------------------------------------

  test("C6 config: sink/timestamp-mode pairing enforced (features.rs matrix)") {
    intercept[IllegalArgumentException] {
      GraftConfig(SinkKind.Queue, TimestampMode.IsoString, "/tmp/x", Seq("blocks"))
    }
    // the valid pairing constructs fine
    GraftConfig(SinkKind.Queue, TimestampMode.EpochInt, "/tmp/x", Seq("blocks"))
  }

  test("C6 config: duplicate tables and unknown enum names fail fast") {
    intercept[IllegalArgumentException] {
      GraftConfig(SinkKind.JsonFiles, TimestampMode.IsoString, "/tmp/x", Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      GraftConfig.fromEnv(Map("GRAFT_SINK" -> "bigquery", "GRAFT_OUTPUT_DIR" -> "/tmp/x"))
    }
  }

  test("C7 config: env loading picks defaults per sink") {
    val c = GraftConfig.fromEnv(Map("GRAFT_SINK" -> "queue", "GRAFT_OUTPUT_DIR" -> "/tmp/q"))
    assert(c.timestampMode === TimestampMode.EpochInt)
    assert(c.tables === Seq("blocks", "transactions"))
  }

  test("C4 PlanCache: LRU eviction unpersists the least-recently-used entry") {
    import org.apache.spark.storage.StorageLevel
    val prev = PlanCache.maxEntries
    PlanCache.clear(spark) // start from an empty cache for this session
    PlanCache.maxEntries = 2
    try {
      val tag = s"evict_${System.nanoTime()}"
      val a = PlanCache.memo(spark, "/tmp", tag, "a")(spark.range(1).toDF("x"))
      val b = PlanCache.memo(spark, "/tmp", tag, "b")(spark.range(2).toDF("x"))
      // touch `a` so `b` becomes least-recently-used (access-ordered LRU)
      PlanCache.memo(spark, "/tmp", tag, "a")(fail("must be a hit"))
      val e0 = PlanCache.evictions
      val c = PlanCache.memo(spark, "/tmp", tag, "c")(spark.range(3).toDF("x"))
      assert(PlanCache.evictions === e0 + 1)
      // b was evicted AND unpersisted; a and c still cached + persisted
      assert(b.storageLevel === StorageLevel.NONE, "evicted entry still persisted")
      assert(a.storageLevel !== StorageLevel.NONE)
      assert(c.storageLevel !== StorageLevel.NONE)
      PlanCache.memo(spark, "/tmp", tag, "a")(fail("must still be cached"))
      val b2 = PlanCache.memo(spark, "/tmp", tag, "b")(spark.range(2).toDF("x"))
      assert(b2 ne b) // rebuilt, not served stale
    } finally {
      PlanCache.maxEntries = prev
      PlanCache.clear(spark)
    }
  }

  // ---- CUSTOM_INDEXING dispatch -------------------------------------

  test("custom indexer: resolved by class name and validated fail-fast") {
    // unknown class and wrong-type class both refuse to start (the
    // runtime analogue of an invalid cargo feature set not compiling)
    intercept[IllegalArgumentException] {
      GraftConfig(SinkKind.JsonFiles, TimestampMode.IsoString, "/tmp/x",
        Seq("blocks"), customIndexer = Some("no.such.Indexer"))
    }
    intercept[IllegalArgumentException] {
      GraftConfig(SinkKind.JsonFiles, TimestampMode.IsoString, "/tmp/x",
        Seq("blocks"), customIndexer = Some("java.lang.String"))
    }
    // default = the standard extract_all pipeline
    val std = GraftConfig(SinkKind.JsonFiles, TimestampMode.IsoString,
      "/tmp/x", Seq("blocks")).indexer
    assert(std.isInstanceOf[graft.operators.CustomIndexer.StandardIndexer])
    val custom = GraftConfig.fromEnv(Map(
      "GRAFT_OUTPUT_DIR" -> "/tmp/x",
      "GRAFT_CUSTOM_INDEXER" -> "graft.operators.CustomIndexer$FeeStatsIndexer")).indexer
    assert(custom.isInstanceOf[graft.operators.CustomIndexer.FeeStatsIndexer])
  }

  test("custom indexer: standard indexer reproduces the FanOut tables") {
    val blocks = graft.sources.BlockSources.blockRange(spark, 0, 30)
    val out = new graft.operators.CustomIndexer.StandardIndexer().index(blocks)
    assert(out.keySet === Set("blocks", "transactions", "account_refs"))
    assert(out("blocks").count() === 30)
  }

  test("EP4 CustomIndex CLI: end-to-end run with the FeeStats indexer") {
    val outDir = Files.createTempDirectory("custom_index").toString
    graft.CustomIndex.main(Array("0", "40", outDir,
      "graft.operators.CustomIndexer$FeeStatsIndexer"))
    val fees = spark.read.json(s"$outDir/fee_stats")
    // blocks with zero txs produce no fee_stats row (groupBy over the
    // tx fan-out) — the synthetic chain has such blocks
    assert(fees.count() > 0 && fees.count() <= 40)
    assert(fees.columns.sorted.toSeq ===
      Seq("block_number", "max_fee", "n_txs", "total_fees"))
    assert(spark.read.json(s"$outDir/accounts").count() > 0)
    // C1 watermark recorded after the sink commit
    assert(Files.exists(java.nio.file.Paths.get(outDir, "indexed_blocks", "0_40")))
  }

  test("EP5 IndexList CLI: list-driven extraction equals the range extraction") {
    val outDir = Files.createTempDirectory("index_list").toString
    val csv = Files.createTempFile("blocks", ".csv")
    // header + multi-cell rows + a duplicate — the S2 flatten/sniff path
    Files.writeString(csv, "ids,more\n3,7\n11,3\n")
    graft.IndexList.main(Array(csv.toString, outDir))
    val blocks = spark.read.json(s"$outDir/blocks")
    assert(blocks.select("block_number").collect().map(_.getLong(0)).sorted
      === Array(3L, 7L, 11L))
    // identical records to a range extraction of the same ids
    val want = graft.operators.FanOut
      .tables(graft.sources.BlockSources.blockRange(spark, 0, 12)
        .filter(org.apache.spark.sql.functions.col("block_number")
          .isin(3, 7, 11))).asMap
    val gotTx = spark.read.json(s"$outDir/transactions")
    assert(gotTx.count() === want("transactions").count())
  }

  // ---- Multimodal plumbing ------------------------------------------

  test("multimodal: batched feature extraction is deterministic and schema-bound") {
    val assets = Multimodal.syntheticAssets(spark, 100).repartition(4)
    val feats = Multimodal.extractFeatures(assets, batchSize = 16)
    assert(feats.schema === Multimodal.featureSchema)
    assert(feats.count() === 100)
    val a = feats.orderBy("asset_id").collect().map(_.toString)
    val b = Multimodal.extractFeatures(assets, batchSize = 7) // different batch split
      .orderBy("asset_id").collect().map(_.toString)
    assert(a.sameElements(b)) // batch boundaries must not change values
  }

  // ---- EP3 golden-data workflow (C8 + SaveRange/CreateTestSet mains) -

  test("EP3 golden set: reference dir pattern <name>_<start>_<end>, lossless round-trip") {
    val root = Files.createTempDirectory("golden").toString
    val blocks = graft.sources.BlockSources.blockRange(spark, 5, 15)
    graft.sinks.FileSinks.writeGolden(blocks, root, "fixture", 5, 15)
    val path = java.nio.file.Paths.get(root, "fixture_5_15") // main.rs:456 naming
    assert(Files.isDirectory(path))
    val back = spark.read.parquet(path.toString)
    assert(back.count() === 10)
    // nested blocks (tx arrays included) survive byte-identically
    assert(back.toJSON.collect().sorted.sameElements(blocks.toJSON.collect().sorted))
  }

  // ---- exact-duplicate collapse ---------------------------------------

  test("ClassCollapse: classes, pair expansion and rep-graph components on a hand-built frame") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // classes by value: x = {1, 4, 7} (mult 3), y = {2} (singleton),
    // z = {3, 5} (duplicate class, no edge), w = {6} (edgeless singleton)
    val members = Seq(1L -> "x", 4L -> "x", 7L -> "x", 2L -> "y", 3L -> "z", 5L -> "z", 6L -> "w")
      .toDF("id", "v").select(col("id"), ClassCollapse.key(col("v")).as("k"))
    val classes = ClassCollapse.classes(members, "id", "k")
    assert(classes.select("id", "mult").as[(Long, Long)].collect().toSet ===
      Set((1L, 3L), (2L, 1L), (3L, 2L), (6L, 1L)))

    // one rep edge x–y: cross pairs inherit its value, intra pairs get 1.0
    val repPairs = Seq((1L, 2L, 0.5)).toDF("a", "b", "v")
    val pairs = ClassCollapse.expandPairs(members, classes, repPairs, "a", "b", "v", lit(1.0))
    assert(pairs.select("a", "b", "v").as[(Long, Long, Double)].collect().toSet === Set(
      (1L, 2L, 0.5), (2L, 4L, 0.5), (2L, 7L, 0.5),
      (1L, 4L, 1.0), (1L, 7L, 1.0), (4L, 7L, 1.0), (3L, 5L, 1.0)))

    // x ∪ y is one component; z is its own (mult 2, no edge); w is absent
    val comps = ClassCollapse.components(members, classes, repPairs.select("a", "b"))
    assert(comps.as[(Long, Long)].collect().toSet ===
      Set(1L -> 1L, 4L -> 1L, 7L -> 1L, 2L -> 1L, 3L -> 3L, 5L -> 3L))
  }
}
