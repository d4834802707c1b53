package graft

import graft.operators.FanOut
import graft.sources.BlockSources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("T2 fan-out conserves row counts across child tables") {
    val nested = BlockSources.blockRange(spark, 0, 200)
    val ts = FanOut.tables(nested)
    val nBlocks = nested.count()
    val nTxsExpected = nested.select(sum(size(col("txs")))).head().getLong(0)
    val nAcctExpected = nested
      .select(explode(col("txs")).as("tx"))
      .select(sum(size(col("tx.accounts")))).head().getLong(0)
    assert(ts.blocks.count() === nBlocks)
    assert(ts.transactions.count() === nTxsExpected)
    assert(ts.accountRefs.count() === nAcctExpected)
  }

  test("descriptor-driven fan-out derives the table tree from the .proto") {
    import org.apache.spark.sql.types._
    val nested = BlockSources.blockRange(spark, 0, 100)
    val t = FanOut.fromDescriptor(nested, FanOut.descriptor)
    assert(t.keySet == Set("block_record", "txs", "accounts"))
    // structure comes mechanically from the descriptor tree
    assert(t("block_record").columns.toSeq ==
      Seq("block_number", "block_time", "n_txs"))
    assert(t("txs").columns.toSeq ==
      Seq("block_number", "block_time", "tx_id", "fee", "n_accounts"))
    assert(t("accounts").columns.toSeq ==
      Seq("block_number", "block_time", "tx_id", "fee", "account"))
    // and the projected TableSet is consistent with the derived tree
    val ts = FanOut.tables(nested)
    assert(ts.transactions.count() === t("txs").count())
    assert(ts.accountRefs.count() === t("accounts").count())
    // shape validation is loud: a DF missing a declared field fails
    val bad = intercept[IllegalArgumentException] {
      FanOut.fromDescriptor(nested.drop("txs"), FanOut.descriptor)
    }
    assert(bad.getMessage.contains("txs"))
    // a repeated field that is not an array column fails
    val bad2 = intercept[IllegalArgumentException] {
      FanOut.fromDescriptor(nested.withColumn("txs", lit(1)), FanOut.descriptor)
    }
    assert(bad2.getMessage.contains("not an array"))
  }

  test("one-scan and tables forms share one projection: per-table column names and order") {
    val nested = BlockSources.blockRange(spark, 0, 50)
    val ts = FanOut.tables(nested).asMap
    val scan = FanOut.scan(nested)
    assert(ts.keySet == FanOut.tableNames.toSet)
    FanOut.tableNames.foreach { t =>
      val fields = scan.rows.select(scan.record(t)).schema.head.dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      assert(fields == ts(t).columns.toSeq, t)
    }
    // and the one scan tags each table's rows as the tables form has them
    val counts = scan.rows.groupBy(scan.byTable((t, _) => lit(t)).as("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == ts.map { case (t, df) => t -> df.count() })
  }

  test("one-scan form rejects a message with two repeated fields at plan time") {
    import graft.functions.ProtoDescriptor
    val root = ProtoDescriptor.parse(
      """syntax = "proto3";
        |message Block {
        |  uint64 block_number = 1;
        |  repeated string tags = 2;
        |  repeated string notes = 3;
        |}""".stripMargin)("Block")
    val nested = spark.range(3).select(col("id").as("block_number"),
      array(lit("t")).as("tags"), array(lit("n")).as("notes"))
    assert(FanOut.fromDescriptor(nested, root).keySet == Set("block", "tags", "notes"))
    val bad = intercept[IllegalArgumentException](FanOut.scan(nested, root))
    assert(bad.getMessage.contains("2 repeated fields"))
  }

  test("nested descriptor parses messages, enums, and rejects cycles") {
    import graft.functions.ProtoDescriptor
    import org.apache.spark.sql.types._
    val src =
      """syntax = "proto3";
        |package x;
        |message Block {
        |  uint64 slot = 1;
        |  repeated Tx txs = 2;
        |  Status status = 3;
        |  message Tx {
        |    string id = 1;
        |    repeated Inner calls = 2;
        |    message Inner {
        |      uint32 depth = 1;
        |    }
        |  }
        |  enum Status {
        |    UNKNOWN = 0;
        |    FINAL = 1;
        |  }
        |}""".stripMargin
    val ms = ProtoDescriptor.parse(src)
    val b = ms("Block")
    assert(b.field("txs").message.get.name == "Tx")
    assert(b.field("status").enumDef.get.nameOf(1) == "FINAL")
    assert(b.field("status").sparkType == StringType) // serde-style names
    assert(b.field("status").wireType == ProtoDescriptor.Wire.Varint)
    assert(b.field("txs").wireType == ProtoDescriptor.Wire.Len)
    // the derived StructType nests three levels deep
    assert(b.sparkSchema("txs").dataType ==
      ArrayType(StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("calls", ArrayType(StructType(Seq(
          StructField("depth", IntegerType, nullable = false))),
          containsNull = false), nullable = false))), containsNull = false))
    // nested names are exposed qualified (and simple when unambiguous)
    assert(ms.contains("Block.Tx") && ms.contains("Block.Tx.Inner"))
    assert(ms("Tx") == ms("Block.Tx"))
    // recursion cannot map to a finite StructType — rejected loudly
    val rec = intercept[IllegalArgumentException] {
      ProtoDescriptor.parse(
        """syntax = "proto3";
          |message Node {
          |  uint64 id = 1;
          |  repeated Node children = 2;
          |}""".stripMargin)
    }
    assert(rec.getMessage.contains("recursive"))
  }

  test("T3 derived accounts are distinct and enrichment preserves keys") {
    val nested = BlockSources.blockRange(spark, 0, 100)
    val derived = FanOut.derivedAccounts(nested)
    assert(derived.count() === derived.distinct().count())
    import spark.implicits._
    val store = derived.limit(5)
      .withColumn("balance", lit(42L)).withColumnRenamed("account", "acct_key")
    val enriched = FanOut.enrichAccounts(derived, store, store("acct_key"))
    assert(enriched.count() === derived.count()) // left outer keeps all keys
    assert(enriched.filter(col("balance").isNotNull).count() === 5)
  }
}
