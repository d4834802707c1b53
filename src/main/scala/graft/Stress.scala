package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator (round-4 verdict item 6): replicate an
  * sf directory `factor`× with RE-KEYED copies so the full registry can
  * be stress-run at a scale the driver's testdata doesn't ship.
  *
  * Re-keying preserves distributions and referential integrity: every
  * key domain (custkey, orderkey, partkey, suppkey, event/user ids,
  * doc/vec ids) is offset per copy by its source max+1, so copy k's
  * orders reference copy k's customers, per-user event streams repeat
  * as 10× distinct users with identical session shape, and join/group
  * cardinalities scale linearly while per-key densities stay exactly
  * sf0.1's. Dimension tables with closed domains (region, nation) are
  * NOT replicated — fact FKs keep pointing at the same 5/25 rows, which
  * is how real warehouses scale too. Non-key payloads (text, vectors,
  * timestamps) are byte-identical across copies: near-dup and ANN
  * queries see each cluster/neighborhood replicated, a stress shape
  * (×factor bucket densities), not a semantic change.
  *
  * Usage: runMain graft.Stress <srcSfDir> <outDir> [factor=10]
  * The replication itself is distributed (crossJoin with a tiny copies
  * range broadcast to every partition — no shuffle, scan-shaped).
  */
object Stress {

  /** key column → shared offset domain (tables offsetting the same
    * domain stay referentially consistent). */
  private val keyDomains: Map[String, Seq[(String, String)]] = Map(
    "region"     -> Seq.empty,
    "nation"     -> Seq.empty,
    "customer"   -> Seq("c_custkey" -> "cust"),
    "supplier"   -> Seq("s_suppkey" -> "supp"),
    "part"       -> Seq("p_partkey" -> "part"),
    "orders"     -> Seq("o_orderkey" -> "ord", "o_custkey" -> "cust"),
    "lineitem"   -> Seq("l_orderkey" -> "ord", "l_partkey" -> "part",
                        "l_suppkey" -> "supp"),
    "events"     -> Seq("event_id" -> "ev", "user_id" -> "user"),
    "documents"  -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec"))

  /** Where each domain's max is read from. */
  private val domainSource: Map[String, (String, String)] = Map(
    "cust" -> ("customer", "c_custkey"), "supp" -> ("supplier", "s_suppkey"),
    "part" -> ("part", "p_partkey"),     "ord"  -> ("orders", "o_orderkey"),
    "ev"   -> ("events", "event_id"),    "user" -> ("events", "user_id"),
    "doc"  -> ("documents", "doc_id"),   "vec"  -> ("embeddings", "vec_id"))

  def replicate(s: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    require(factor >= 1, "factor must be >= 1")
    // outDir is rewritten in place below — drop any memoized handle whose
    // file index would point at the replaced part-files (Tables scaladoc)
    Tables.invalidate(outDir)
    val raw: Map[String, Long] = domainSource.map { case (dom, (tbl, c)) =>
      dom -> (Tables.load(s, srcDir, tbl).agg(max(col(c))).head().getLong(0) + 1L)
    }
    // events.user_id is an FK into customer (q141 joins user_id =
    // c_custkey), so it must stride by the CUSTOMER domain: copy k's
    // users then land exactly on copy k's customers (copy-consistent),
    // not merely somewhere inside the replicated key range. Sound only
    // while the user domain fits inside the customer domain — asserted.
    require(raw("user") <= raw("cust"),
      s"events.user_id domain (${raw("user")}) exceeds customer key domain " +
        s"(${raw("cust")}): copies would collide under the shared stride")
    val strides = raw + ("user" -> raw("cust"))
    println(s"[stress] key strides: $strides")
    val copies = s.range(factor).toDF("__copy")
    Tables.names.foreach { t =>
      val src = Tables.load(s, srcDir, t)
      val keyed = keyDomains(t).toMap
      val out =
        if (keyed.isEmpty) src // closed-domain dimensions pass through
        else src.crossJoin(broadcast(copies)).select(src.columns.map { c =>
          keyed.get(c) match {
            case Some(dom) =>
              (col(c) + col("__copy") * strides(dom)).cast(src.schema(c).dataType).as(c)
            case None => col(c)
          }
        }: _*)
      out.write.mode("overwrite").parquet(Tables.path(outDir, t))
      println(s"[stress] $t: ${s.read.parquet(Tables.path(outDir, t)).count()} rows")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Stress <srcSfDir> <outDir> [factor=10]")
      sys.exit(2)
    }
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local(cpus, app = Some("graft-stress-gen"))
    replicate(spark, args(0), args(1), factor)
    spark.stop()
  }
}
