package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** T2 — block→tables fan-out transform, and T3 — derived-entity
  * extraction (etl-rust `docs/etl-infrastructure-architecture.md:13`,
  * `docs/extraction.md:9`).
  *
  * One nested block record becomes N records across child tables: the
  * blocks row itself, one transactions row per element of `txs`, one
  * account-reference row per account pubkey. Declarative `explode`s keep
  * Catalyst in charge (column pruning reaches the scan; no shuffle is
  * introduced by the fan-out itself — children inherit the parent's
  * partitioning).
  *
  * Invariants (spec-enforced): row-count conservation — each child table
  * has exactly Σ size(nested field) rows; the blocks table has one row
  * per input block.
  */
object FanOut {

  import graft.functions.ProtoDescriptor
  import org.apache.spark.sql.types.{ArrayType, StructType}

  /** The per-table DataFrames produced from one nested blocks input. */
  final case class TableSet(blocks: DataFrame, transactions: DataFrame, accountRefs: DataFrame) {
    def asMap: Map[String, DataFrame] =
      Map("blocks" -> blocks, "transactions" -> transactions, "account_refs" -> accountRefs)
  }

  /** The engine's block-record TREE descriptor: nesting, field names,
    * and repetition all come from the checked-in .proto (the reference
    * compiles the same nested per-chain .proto through prost —
    * docs/protobuf.md:3-8, src/example_config/build_proto.rs:216-322).
    * [[tables]] is a projection of [[fromDescriptor]] over this, so a
    * user adding a chain profile edits ONE descriptor file and gets the
    * whole fan-out table tree derived mechanically. */
  val descriptor: ProtoDescriptor.Message =
    ProtoDescriptor.load("/graft/block_record.proto")("BlockRecord")

  private def snake(n: String): String =
    n.replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase

  private def singular(n: String): String =
    if (n.length > 1 && n.endsWith("s")) n.dropRight(1) else n + "_value"

  /** Fails at plan time unless `df` has every field of `m` in the
    * declared shape: a repeated field is an array column, a repeated
    * message field's elements are structs with the declared fields. */
  private def validate(df: DataFrame, m: ProtoDescriptor.Message): Unit = {
    val bySchema = df.schema.fields.map(f => f.name -> f.dataType).toMap
    m.fields.foreach { f =>
      val dt = bySchema.getOrElse(f.name, throw new IllegalArgumentException(
        s"descriptor field '${f.name}' of message ${m.name} missing from " +
          s"input columns ${df.columns.mkString("[", ",", "]")}"))
      (f.repeated, dt) match {
        case (true, ArrayType(el, _)) =>
          f.message.foreach { cm =>
            el match {
              case st: StructType =>
                val have = st.fieldNames.toSet
                val miss = cm.fields.map(_.name).filterNot(have)
                require(miss.isEmpty, s"repeated message field '${f.name}': " +
                  s"element struct lacks declared fields ${miss.mkString(",")}")
              case other => throw new IllegalArgumentException(
                s"repeated message field '${f.name}' has non-struct elements: $other")
            }
          }
        case (true, other) => throw new IllegalArgumentException(
          s"repeated descriptor field '${f.name}' is not an array column: $other")
        case (false, _) => () // physical scalar type mapping documented in .proto
      }
    }
  }

  /** Fields of `m` carried into its own and its descendants' tables. */
  private def carriedFields(m: ProtoDescriptor.Message, inherited: Seq[String]): Seq[String] = {
    val carried = m.fields.filterNot(_.repeated).map(_.name)
    val clash = carried.toSet.intersect(inherited.toSet)
    require(clash.isEmpty,
      s"message ${m.name}: fields ${clash.mkString(",")} collide with ancestors")
    carried
  }

  private def countOf(f: ProtoDescriptor.Field): Column = size(col(f.name)).as(s"n_${f.name}")

  /** Descriptor-driven fan-out: walk a record-tree [[ProtoDescriptor
    * .Message]] and derive one child DataFrame per repeated field —
    * mechanically, with no hand-written schema:
    *
    *   - the root message becomes table `snake(message name)` holding
    *     its non-repeated fields plus `n_<field>` counts for each
    *     repeated field;
    *   - each repeated MESSAGE field `r` becomes table `r.name`: all
    *     ancestor non-repeated fields + the child's non-repeated fields
    *     + counts of the child's own repeated fields (recursing);
    *   - each repeated SCALAR field `l` becomes table `l.name` with the
    *     ancestors' fields + one value column named `singular(l.name)`.
    *
    * Shapes are validated against the input DataFrame (a repeated
    * descriptor field must be an array column, a message field a struct
    * with the declared child fields) so a descriptor/DataFrame drift
    * fails loudly at plan time, not with silent mis-fanned rows.
    * Declarative explodes keep Catalyst in charge — column pruning
    * reaches the scan and the fan-out introduces no shuffle. */
  def fromDescriptor(nested: DataFrame,
      root: ProtoDescriptor.Message): Map[String, DataFrame] = {
    def walk(df: DataFrame, m: ProtoDescriptor.Message, tableName: String,
        inherited: Seq[String]): Map[String, DataFrame] = {
      validate(df, m)
      val carried = carriedFields(m, inherited)
      val repMsg = m.fields.filter(f => f.repeated && f.message.isDefined)
      val repLeaf = m.fields.filter(f => f.repeated && f.message.isEmpty)
      val keyCols = (inherited ++ carried).map(col)
      val self = df.select(keyCols ++
        (repMsg ++ repLeaf).map(countOf): _*)
      val childTables = repMsg.flatMap { f =>
        val cm = f.message.get
        val flat = df
          .select(keyCols :+ explode(col(f.name)).as("_x"): _*)
          .select((inherited ++ carried).map(col) ++
            cm.fields.map(cf => col(s"_x.${cf.name}").as(cf.name)): _*)
        walk(flat, cm, f.name, inherited ++ carried)
      }
      val leafTables = repLeaf.map { f =>
        f.name -> df.select(keyCols :+
          explode(col(f.name)).as(singular(f.name)): _*)
      }
      val all = Map(tableName -> self) ++ childTables ++ leafTables
      require(all.size == 1 + childTables.size + leafTables.size,
        s"fan-out table names collide under message ${m.name}")
      all
    }
    walk(nested, root, snake(root.name), Nil)
  }

  /** The published tables as projections of the descriptor tree: table
    * name, the [[fromDescriptor]] table it selects from, and its columns
    * by name. [[tables]] and [[scan]] both apply it, so the two forms give
    * every table the same columns in the same order. */
  private val projection: Seq[(String, String, Seq[Column])] = Seq(
    ("blocks", "block_record",
      Seq(col("block_number"), col("block_time"), col("n_txs").as("tx_count"))),
    ("transactions", "txs",
      Seq(col("block_number"), col("block_time"), col("tx_id"), col("fee"), col("n_accounts"))),
    ("account_refs", "accounts",
      Seq(col("block_number"), col("tx_id"), col("account"))))

  /** The published table names, in [[TableSet]] order. */
  val tableNames: Seq[String] = projection.map(_._1)

  /** Fan a nested blocks DF (schema of BlockSources.blockRange) out into
    * child tables — a projection of the DESCRIPTOR-derived tree (the
    * .proto is the single schema source; see [[fromDescriptor]]). Each
    * table is its own plan over the input, so a caller that runs more
    * than one of them reads the input once per table; [[scan]] yields
    * the rows of every table from one read. */
  def tables(nestedBlocks: DataFrame): TableSet = {
    val t = fromDescriptor(nestedBlocks, descriptor)
    val p = projection.map { case (name, from, cols) => name -> t(from).select(cols: _*) }.toMap
    TableSet(p("blocks"), p("transactions"), p("account_refs"))
  }

  /** Every row of every [[tables]] table in one frame, `rows`, read from
    * the input once. [[record]] and [[byTable]] are columns over `rows`.
    * `levels` names each descriptor table, root first, with the condition
    * that holds on its rows and on no row of a later level. */
  final class Scan private[FanOut] (val rows: DataFrame, levels: Seq[(String, Column)]) {
    /** Table `t`'s row as a struct: its projected columns, named and
      * ordered as in [[tables]]. */
    def record(t: String): Column =
      struct(projection.find(_._1 == t).getOrElse(
        throw new NoSuchElementException(s"no fan-out table '$t'"))._3: _*)

    /** `f(t, record(t))` on each row of table `t`. */
    def byTable(f: (String, Column) => Column): Column = {
      val branches = levels.map { case (from, cond) =>
        val t = projection.find(_._2 == from).get._1
        cond -> f(t, record(t))
      }
      branches.init match {
        case Seq() => branches.last._2
        case (c0, v0) +: more => more.foldLeft(when(c0, v0)) {
          case (c, (cond, v)) => c.when(cond, v)
        }.otherwise(branches.last._2)
      }
    }
  }

  /** The one-scan form of [[tables]], derived from the same descriptor
    * walk and [[projection]]. Each repeated level is exploded with its
    * parent's own row in front:
    * `posexplode(concat(array(null), coalesce(field, array())))`, so
    * position 0 is the parent's row and positions 1.. are the field's
    * elements. A row belongs to the table of the first level whose
    * position is 0, or to the deepest table when none is. A null or empty
    * field still yields its parent's row, and a null element yields a
    * child row of nulls, exactly as [[tables]]' explodes do. The plan is
    * one codegen'd project → generate chain with no shuffle and no cache.
    *
    * Plan-time rejections: a message with more than one repeated field
    * (positions of two sibling arrays cannot share one explode), a
    * descriptor table that [[projection]] does not name, or flattened
    * column names that collide across levels. */
  def scan(nestedBlocks: DataFrame): Scan = scan(nestedBlocks, descriptor)

  private[graft] def scan(nestedBlocks: DataFrame, root: ProtoDescriptor.Message): Scan = {
    def walk(df: DataFrame, m: ProtoDescriptor.Message, table: String, kept: Seq[String],
        depth: Int): (DataFrame, Seq[(String, Column)]) = {
      validate(df, m)
      val carried = carriedFields(m, kept)
      m.fields.filter(_.repeated) match {
        case Seq() => (df, Seq(table -> lit(true)))
        case Seq(f) =>
          val pos = s"__fanout_p$depth"
          val el = df.schema(f.name).dataType.asInstanceOf[ArrayType].elementType
          val items = concat(array(lit(null).cast(el)),
            coalesce(col(f.name), array().cast(ArrayType(el))))
          val x = if (f.message.isDefined) "__fanout_x" else singular(f.name)
          val exploded = df.select((kept ++ carried).map(col) :+ countOf(f) :+
            posexplode(items).as(Seq(pos, x)): _*)
          val below = kept ++ carried :+ s"n_${f.name}" :+ pos
          val (rows, levels) = f.message match {
            case Some(cm) =>
              val flat = exploded.select(below.map(col) ++
                cm.fields.map(cf => col(s"$x.${cf.name}").as(cf.name)): _*)
              walk(flat, cm, f.name, below, depth + 1)
            case None => (exploded, Seq(f.name -> lit(true)))
          }
          (rows, (table -> (col(pos) === 0)) +: levels)
        case many => throw new IllegalArgumentException(
          s"message ${m.name} has ${many.size} repeated fields " +
            s"(${many.map(_.name).mkString(",")}); the one-scan fan-out explodes one per message")
      }
    }
    val (rows, levels) = walk(nestedBlocks, root, snake(root.name), Nil, 1)
    require(levels.map(_._1).toSet == projection.map(_._2).toSet,
      s"descriptor tables ${levels.map(_._1).mkString(",")} differ from the projected " +
        s"${projection.map(_._2).mkString(",")}")
    require(rows.columns.distinct.length == rows.columns.length,
      s"flattened fan-out columns collide: ${rows.columns.mkString(",")}")
    new Scan(rows, levels)
  }

  /** T3: derived-entity keys — the distinct accounts referenced by a batch
    * of blocks, feeding a second-stage keyed fetch/join
    * (`call_getMultipleAccounts` over the collected pubkeys,
    * docs/extraction.md:9). Scale: distinct is the one shuffle here and
    * shrinks data before the expensive external lookup — same reason the
    * reference batches pubkeys. */
  def derivedAccounts(nestedBlocks: DataFrame): DataFrame =
    tables(nestedBlocks).accountRefs.select(col("account")).distinct()

  /** Second stage of T3: enrich derived keys against a keyed service or
    * dimension table (the external account store). Broadcast when the key
    * set is small; otherwise a shuffle join on `account`. */
  def enrichAccounts(derived: DataFrame, accountStore: DataFrame, storeKey: Column): DataFrame =
    derived.join(accountStore, derived("account") === storeKey, "left_outer")
}
