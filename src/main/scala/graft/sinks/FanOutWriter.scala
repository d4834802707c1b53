package graft.sinks

import graft.operators.FanOut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** K8 — per-table fan-out publisher (etl-rust `src/output/publish.rs:9-11`,
  * `single_stream_publisher.rs:12-31`): one named sink per table, all
  * connected up front, every table of a batch published through its own
  * sink. Two kinds of writer:
  *
  *   - [[FanOutWriter.jsonl]] / [[FanOutWriter.jsonlSingle]] publish a
  *     nested batch in ONE Spark job over ONE read of the un-persisted
  *     input: [[FanOut.scan]] yields the rows of every table from a single
  *     codegen'd explode chain, each row becomes a `(tag, JSON line)`, and
  *     [[FileSinks.writeTaggedLines]] writes each line to its tag's
  *     directory — the moral equivalent of the reference cloning one
  *     connected publisher into every worker rather than reconnecting per
  *     record. Publishes under a key are replay-safe: a second publish
  *     with the same key replaces the first one's files. Their
  *     [[publishAll]] unions the given tables' lines into the same one
  *     job, each table reading its own input.
  *   - a writer built from arbitrary sinks (`Map[table, DataFrame => Unit]`)
  *     persists the nested batch, so the extract runs once, and calls each
  *     [[FanOut.tables]] table's sink in turn: one or more jobs per table,
  *     and a replay appends again (at-least-once).
  */
final class FanOutWriter private (tableNames: Set[String],
    publish: (Map[String, DataFrame], String) => Unit,
    publishScan: Option[(FanOut.Scan, String) => Unit]) {

  def this(sinks: Map[String, DataFrame => Unit]) =
    this(sinks.keySet, (tables, _) => tables.foreach { case (name, df) => sinks(name)(df) }, None)

  /** Write every table under a fresh publish key; unknown tables fail
    * fast (features.rs-style config error, not silent drop). */
  def publishAll(tables: Map[String, DataFrame]): Unit = publishAll(tables, FanOutWriter.freshKey)

  /** Write every table under `key`; on the `jsonl` writers a publish
    * under a key already used replaces that key's files. */
  private[graft] def publishAll(tables: Map[String, DataFrame], key: String): Unit = {
    requireSinks(tables.keySet)
    publish(tables, key)
  }

  private def requireSinks(names: Set[String]): Unit = {
    val missing = names -- tableNames
    require(missing.isEmpty, s"no sink configured for tables: $missing")
  }

  /** End-to-end batch publish of a nested blocks DF under a fresh key
    * (at-least-once: a retry of the call publishes the batch again). */
  def publishBlocks(nestedBlocks: DataFrame): Unit =
    publishBlocks(nestedBlocks, FanOutWriter.freshKey)

  /** Batch publish of every [[FanOut.tables]] table under `key`. On the
    * `jsonl` writers it is one job over one read of the input, and a
    * publish under a key already used replaces that key's files, so a
    * caller that names a batch stably (a micro-batch id, a block range)
    * gets exactly one copy of it however often it is replayed. A per-sink
    * writer persists the input, publishes each table and unpersists. */
  def publishBlocks(nestedBlocks: DataFrame, key: String): Unit = publishScan match {
    case Some(one) =>
      requireSinks(FanOut.tableNames.toSet)
      one(FanOut.scan(nestedBlocks), key)
    case None =>
      val cached = nestedBlocks.persist(StorageLevel.MEMORY_AND_DISK)
      try publishAll(FanOut.tables(cached).asMap, key)
      finally { cached.unpersist(); () }
  }
}

object FanOutWriter {
  private def freshKey: String = java.util.UUID.randomUUID().toString

  /** A one-job writer: table `t`'s record struct `r` becomes the string
    * `line(t, r)` in directory `dirOf(t)`; publish markers live under
    * `root/_publish`. */
  private def lines(root: String, dirOf: Map[String, String],
      line: (String, Column) => Column): FanOutWriter = {
    val dirs = dirOf.values.toIndexedSeq.distinct
    def tag(t: String): Column = lit(dirs.indexOf(dirOf(t)))
    def write(tagged: DataFrame, key: String): Unit =
      FileSinks.writeTaggedLines(tagged, dirs, s"$root/_publish", key)
    new FanOutWriter(dirOf.keySet,
      (tables, key) => tables.toSeq.map { case (t, df) =>
        df.select(tag(t).as("tag"), line(t, struct(df.columns.map(col).toSeq: _*)).as("line"))
      }.reduceOption(_ union _).foreach(write(_, key)),
      Some((scan, key) => write(scan.rows.select(
        scan.byTable((t, _) => tag(t)).as("tag"), scan.byTable(line).as("line")), key)))
  }

  /** All tables to JSONL under one root (the SEPARATE_PUBLISHERS layout:
    * one queue/dir per table, docs/environment-variables.md:50-69). The
    * lines equal [[FileSinks.writeJsonl]]'s for the same table. */
  def jsonl(outDir: String, tableNames: Seq[String]): FanOutWriter =
    lines(outDir, tableNames.map(t => t -> s"$outDir/$t").toMap, (_, r) => to_json(r))

  /** SINGLE_PUBLISHER mode (etl-rust
    * `src/output/single_stream_publisher.rs:12-31`, env `QUEUE_NAME`):
    * every table multiplexed into ONE stream. A single queue needs a
    * routing key beside an opaque payload, so each record is enveloped as
    * `{"table": t, "payload": "<record json>"}` — consumers demux by tag
    * and parse the payload with the table's own schema ([[demux]]).
    * Deprecated in the reference but kept for parity; the per-table
    * [[jsonl]] layout is the production path. */
  def jsonlSingle(outDir: String, queueName: String, tableNames: Seq[String]): FanOutWriter =
    lines(outDir, tableNames.map(t => t -> s"$outDir/$queueName").toMap, (t, r) =>
      to_json(struct(lit(t).as("table"), to_json(r).as("payload"))))

  /** Read one table back out of a merged stream: filter the envelope by
    * tag, then parse the payloads with their own (inferred) schema — the
    * consumer side of SINGLE_PUBLISHER. */
  def demux(spark: org.apache.spark.sql.SparkSession, outDir: String,
      queueName: String, table: String): DataFrame = {
    import spark.implicits._
    val payloads = spark.read.json(s"$outDir/$queueName")
      .filter(org.apache.spark.sql.functions.col("table") === table)
      .select("payload").as[String]
    spark.read.json(payloads)
  }
}
