package graft.operators

import org.apache.spark.sql.DataFrame

/** CUSTOM_INDEXING — the reference's alternate-indexer dispatch.
  *
  * etl-rust feature-gates a per-chain replacement for the standard
  * `extract_all` pipeline (`Cargo.toml:191-192` "more custom indexing
  * functionality"; `src/main.rs:246` "either the custom indexer or the
  * crypto-specific extract_all"; MANTRA/APTOS profiles enable it,
  * `Cargo.toml:118,123,130`). The indexer is chosen at build time by
  * cargo feature; everything else (sources, publishers, metrics,
  * checkpointing) is shared.
  *
  * Spark shape: an indexer is a named, serializable
  * blocks→per-table-DataFrames transform. The standard fan-out
  * ([[FanOut.tables]]) is the default implementation; a deployment
  * supplies its own by class name, resolved reflectively at startup and
  * validated FAIL-FAST through [[graft.config.GraftConfig]] — the
  * runtime equivalent of an invalid feature combination not compiling
  * (`src/features.rs`). The transform itself stays declarative
  * (DataFrame in, DataFrames out), so Catalyst optimizes a custom
  * indexer exactly like the built-in one and the CLI's sink/watermark
  * machinery is reused unchanged.
  */
trait CustomIndexer extends Serializable {
  /** Table name → records to publish, from one nested-blocks input
    * (schema of `BlockSources.blockRange`). `graft.CustomIndex` publishes
    * every returned table in one job over the un-persisted input, so each
    * table's plan reads the input on its own: tables must agree on a
    * re-read (a deterministic extract), and an indexer whose tables share
    * an expensive stage persists that stage itself. */
  def index(nestedBlocks: DataFrame): Map[String, DataFrame]
}

object CustomIndexer {

  /** The standard pipeline as an indexer — what runs when the feature is
    * off (`extract_all`). */
  final class StandardIndexer extends CustomIndexer {
    override def index(nestedBlocks: DataFrame): Map[String, DataFrame] =
      FanOut.tables(nestedBlocks).asMap
  }

  /** Built-in example of a "more custom" indexer (the MANTRA/APTOS
    * shape): per-block fee statistics plus the distinct account set —
    * tables the standard fan-out doesn't produce, computed with the
    * same declarative operators. */
  final class FeeStatsIndexer extends CustomIndexer {
    import org.apache.spark.sql.functions._
    override def index(nestedBlocks: DataFrame): Map[String, DataFrame] = {
      val txs = FanOut.tables(nestedBlocks).transactions
      Map(
        "fee_stats" -> txs.groupBy(col("block_number"))
          .agg(count(lit(1)).as("n_txs"), sum(col("fee")).as("total_fees"),
            max(col("fee")).as("max_fee")),
        "accounts" -> FanOut.derivedAccounts(nestedBlocks))
    }
  }

  /** Resolve an indexer by fully-qualified class name (no-arg
    * constructor). Throws IllegalArgumentException on an unknown class
    * or one that does not implement [[CustomIndexer]] — config
    * validation calls this at startup so a bad deployment fails before
    * any extraction work starts. */
  def load(className: String): CustomIndexer = {
    val cls =
      try Class.forName(className)
      catch { case _: ClassNotFoundException =>
        throw new IllegalArgumentException(s"custom indexer class not found: '$className'")
      }
    if (!classOf[CustomIndexer].isAssignableFrom(cls))
      throw new IllegalArgumentException(
        s"'$className' does not implement graft.operators.CustomIndexer")
    cls.getDeclaredConstructor().newInstance().asInstanceOf[CustomIndexer]
  }
}
