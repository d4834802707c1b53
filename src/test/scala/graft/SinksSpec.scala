package graft

import graft.sinks._
import graft.sources.BlockSources
import graft.operators.FanOut
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Scripted connection: fails the first `failBulk` bulk calls and the
    * first `failSingle` single publishes, records everything after. */
  private class FlakyConnection(failBulk: Int, failSingle: Int) extends QueueConnection {
    var bulkAttempts = 0; var singleAttempts = 0
    val published = mutable.ArrayBuffer.empty[String]
    override def publishBulk(msgs: Seq[Array[Byte]]): Unit = {
      bulkAttempts += 1
      if (bulkAttempts <= failBulk) throw new RuntimeException("bulk down")
      published ++= msgs.map(new String(_))
    }
    override def publish(msg: Array[Byte]): Unit = {
      singleAttempts += 1
      if (singleAttempts <= failSingle) throw new RuntimeException("single down")
      published += new String(msg)
    }
    override def close(): Unit = ()
  }

  test("K1 chunking: bulk publishes split at the 900-message ceiling") {
    val conn = new FlakyConnection(0, 0)
    val pub = new QueuePublisher(_ => conn, chunkSize = 900, sleep = _ => ())
    val n = pub.publishPartition(0, Iterator.tabulate(2100)(i => s"m$i".getBytes))
    assert(n === 2100)
    assert(conn.bulkAttempts === 3) // 900 + 900 + 300
    assert(conn.published.size === 2100)
  }

  test("C3 linear backoff: sleeps k*unit after k-th failure, then succeeds") {
    val sleeps = mutable.ArrayBuffer.empty[Long]
    val conn = new FlakyConnection(failBulk = 3, failSingle = 0)
    val pub = new QueuePublisher(_ => conn, maxRetries = 5,
      backoffMillis = 100, sleep = sleeps.append(_))
    pub.publishPartition(0, Iterator.single("x".getBytes))
    assert(sleeps.toSeq === Seq(100L, 200L, 300L))
    assert(conn.published.toSeq === Seq("x"))
  }

  test("K1 bulk->per-message fallback after retries exhaust") {
    // bulk always fails; singles succeed -> everything lands via fallback
    val conn = new FlakyConnection(failBulk = Int.MaxValue, failSingle = 0)
    val pub = new QueuePublisher(_ => conn, maxRetries = 2, sleep = _ => ())
    pub.publishPartition(0, Iterator.tabulate(5)(i => s"m$i".getBytes))
    assert(conn.published.toSeq === (0 until 5).map(i => s"m$i"))
  }

  test("K1 partial bulk delivery: retries and fallback resume past delivered prefix") {
    // bulk delivers 2 messages then dies, every time; the publisher must
    // advance past each delivered prefix (2, then 2 more) and finish the
    // tail via fallback — every message exactly once, in order
    val conn = new QueueConnection {
      val published = mutable.ArrayBuffer.empty[String]
      override def publishBulk(msgs: Seq[Array[Byte]]): Unit = {
        val k = math.min(2, msgs.size)
        published ++= msgs.take(k).map(new String(_))
        throw new BulkPartialDelivery(k, new RuntimeException("mid-batch"))
      }
      override def publish(msg: Array[Byte]): Unit = published += new String(msg)
      override def close(): Unit = ()
    }
    val pub = new QueuePublisher(_ => conn, maxRetries = 1, sleep = _ => ())
    pub.publishPartition(0, Iterator.tabulate(6)(i => s"m$i".getBytes))
    assert(conn.published.toSeq === (0 until 6).map(i => s"m$i"))
  }

  test("bounded retry rethrows when both paths stay down") {
    val conn = new FlakyConnection(Int.MaxValue, Int.MaxValue)
    val pub = new QueuePublisher(_ => conn, maxRetries = 1, sleep = _ => ())
    intercept[RuntimeException] {
      pub.publishPartition(0, Iterator.single("x".getBytes))
    }
  }

  test("QueueSink.publishJson writes every record through the file queue") {
    val dir = Files.createTempDirectory("queue").toString
    val df = BlockSources.blockRange(spark, 0, 50)
    QueueSink.publishJson(FanOut.tables(df).blocks, dir, "blocks")
    val files = Files.list(Paths.get(dir, "blocks")).iterator().asScala.toSeq
    assert(files.nonEmpty)
    val lines = files.flatMap(p => Files.readAllLines(p).asScala)
    assert(lines.size === 50)
    assert(lines.forall(_.startsWith("{\"block_number\":")))
  }

  test("K7 time-partitioned sink lays out date/hour/half-hour directories") {
    val out = Files.createTempDirectory("timed").toString
    val df = spark.sql(
      """SELECT id, timestamp_millis(1700000000000 + id * 600000) AS ts
        |FROM range(0, 12)""".stripMargin) // spans >1 hour in 10-min steps
    FileSinks.writeTimePartitioned(df, "ts", out)
    val dirs = Files.walk(Paths.get(out)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.toString).toSeq
    assert(dirs.exists(_.contains("p_date=2023-11-14")))
    assert(dirs.exists(_.contains("p_half=0")))
    assert(dirs.exists(_.contains("p_half=30")))
    // round-trip with partition pruning columns intact
    val back = spark.read.json(out)
    assert(back.count() === 12)
  }

  test("K8 fan-out writer publishes all tables once from a cached upstream") {
    val out = Files.createTempDirectory("fanout").toString
    val writer = FanOutWriter.jsonl(out, Seq("blocks", "transactions", "account_refs"))
    writer.publishBlocks(BlockSources.blockRange(spark, 0, 30))
    val blocks = spark.read.json(s"$out/blocks")
    val txs = spark.read.json(s"$out/transactions")
    assert(blocks.count() === 30)
    assert(txs.count() === blocks.select(sum(col("tx_count"))).head().getLong(0))
  }

  /** Spark part files under `dir` (none when the directory is absent). */
  private def partFiles(dir: String): Seq[String] =
    if (!Files.exists(Paths.get(dir))) Nil
    else Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq

  test("K6 empty batch skipped: writeJsonl of an empty frame creates no part file") {
    val out = Files.createTempDirectory("empty").toString
    FileSinks.writeJsonl(BlockSources.blockRange(spark, 0, 10).limit(0), out, "blocks")
    assert(partFiles(s"$out/blocks").isEmpty)
  }

  test("K6 empty batch skipped: blocks without transactions write no child-table part files") {
    val out = Files.createTempDirectory("notx").toString
    import spark.implicits._
    // BlockSources' per-block transaction count, kept to the empty blocks
    val empty = (0L until 300L).filter(b => (b * 2654435761L) % 97 % 7 == 0)
    val nested = BlockSources.blocksFromIds(empty.toDF("block_number"))
    assert(empty.size >= 3 && FanOut.tables(nested).transactions.count() === 0)
    FanOutWriter.jsonl(out, Seq("blocks", "transactions", "account_refs")).publishBlocks(nested)
    assert(partFiles(s"$out/blocks").nonEmpty)
    assert(partFiles(s"$out/transactions").isEmpty)
    assert(partFiles(s"$out/account_refs").isEmpty)
  }

  test("K8 SINGLE_PUBLISHER merged stream demuxes back to exact per-table sets") {
    val out = Files.createTempDirectory("single").toString
    val names = Seq("blocks", "transactions", "account_refs")
    val writer = FanOutWriter.jsonlSingle(out, "all", names)
    val nested = BlockSources.blockRange(spark, 0, 25)
    writer.publishBlocks(nested)
    // ONE queue dir, no per-table dirs
    assert(Files.exists(Paths.get(out, "all")))
    assert(names.forall(t => !Files.exists(Paths.get(out, t))))
    // every envelope row carries a known tag
    val env = spark.read.json(s"$out/all")
    assert(env.columns.sorted.toSeq == Seq("payload", "table"))
    // the payload byte-stream per tag equals the direct fan-out's records
    val direct = graft.operators.FanOut.tables(nested).asMap
    names.foreach { t =>
      val want = direct(t)
      val wantJson = want.select(to_json(struct(want.columns.map(col).toSeq: _*)))
        .collect().map(_.getString(0)).sorted.toSeq
      val gotPayloads = env.filter(col("table") === t)
        .select("payload").collect().map(_.getString(0)).sorted.toSeq
      assert(gotPayloads == wantJson, s"$t: merged payloads differ from direct records")
      // and the demux helper parses them back into a typed frame
      val got = FanOutWriter.demux(spark, out, "all", t)
      assert(got.count() === want.count(), s"$t: demux row count")
      assert(want.columns.toSet.subsetOf(got.columns.toSet),
        s"$t: demux lost columns (${got.columns.toSeq} vs ${want.columns.toSeq})")
    }
  }

  test("K8 fails fast on a table with no configured sink") {
    val writer = new FanOutWriter(Map.empty)
    val df = BlockSources.blockRange(spark, 0, 1)
    intercept[IllegalArgumentException] {
      writer.publishAll(Map("mystery" -> df))
    }
  }

  test("C8 golden-fixture writer uses the reference's <name>_<start>_<end> layout") {
    val root = Files.createTempDirectory("golden").toString
    val df = FanOut.tables(BlockSources.blockRange(spark, 5, 25)).blocks
    FileSinks.writeGolden(df, root, "blocks", 5, 25)
    val back = spark.read.parquet(s"$root/blocks_5_25")
    assert(back.count() === 20)
  }

  test("streaming QueueForeachWriter flushes per (partition, epoch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val dir = Files.createTempDirectory("squeue").toString
    val q = mem.toDF().toDF("v").writeStream
      .foreach(new QueueForeachWriter(dir, "vals", r => s"v=${r.getLong(0)}".getBytes))
      .start()
    mem.addData(1L, 2L, 3L)
    q.processAllAvailable()
    q.stop()
    val lines = Files.list(Paths.get(dir, "vals")).iterator().asScala.toSeq
      .flatMap(p => Files.readAllLines(p).asScala)
    assert(lines.sorted === Seq("v=1", "v=2", "v=3"))
  }

  test("T6 Avro round-trip via bundled avro core") {
    val dir = Files.createTempDirectory("avro").toString
    val df = FanOut.tables(BlockSources.blockRange(spark, 0, 20)).blocks.coalesce(2)
    AvroSink.write(df, dir, "blocks")
    val back = AvroSink.readAll(dir)
    assert(back.size === 20)
    assert(back.map(_("block_number").asInstanceOf[Long]).sorted === (0L until 20L).toSeq)
    // timestamp carried as epoch micros (INT_TIMESTAMP mode)
    assert(back.head.contains("block_time"))
  }

  test("T6 Avro timestamps keep sub-millisecond precision (true epoch micros)") {
    val dir = Files.createTempDirectory("avro-us").toString
    val df = spark.sql(
      "SELECT to_timestamp('2024-01-02 03:04:05.123456') AS ts")
    AvroSink.write(df.coalesce(1), dir, "ts_table")
    val expected = java.time.LocalDateTime
      .of(2024, 1, 2, 3, 4, 5, 123456000)
      .toInstant(java.time.ZoneOffset.UTC)
    val expectedMicros = expected.getEpochSecond * 1000000L + expected.getNano / 1000L
    assert(AvroSink.readAll(dir).head("ts") === expectedMicros)
  }
}
