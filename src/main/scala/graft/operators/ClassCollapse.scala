package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-duplicate collapse: group members whose values are identical
  * into classes, do the expensive work once per class on one
  * representative, then re-attach the members. Web corpora are 30-60%
  * byte-identical copies, and every pairwise or iterative stage
  * otherwise pays Σ multiplicity² for them; collapsed, its cost scales
  * with DISTINCT values.
  *
  * Vocabulary shared by every function here:
  *  - members: a relation `(id, key)` — one row per member, its id and
  *    its class key (from [[key]]);
  *  - classes: `(key, id, mult)` from [[classes]] — one row per class,
  *    `id` = the class representative = its MINIMUM member id, and
  *    `mult` = its member count. Because the rep is the class minimum,
  *    "min member id" results computed over reps (component ids,
  *    survivors) equal the member-level ones.
  *
  * Class key and collision stance (stated here once, for every caller):
  * the key is xxhash64 of the value — a 64-bit scalar, so grouping runs
  * as a codegen'd hash aggregate (an array group key falls back to
  * SortAggregate). Two DISTINCT values collide with probability about
  * n²/2⁶⁵ over n distinct values — nil at the tested scales, where a
  * collision would merge two classes and fail the exact oracles loudly.
  * It is not nil at the stated 100 TB design scale (~2·10¹⁰ distinct
  * texts ⇒ ~10 expected collisions); widening the key is a change to
  * [[key]] alone.
  */
object ClassCollapse {

  /** The class key of a value (one or more columns). */
  def key(value: Column*): Column = xxhash64(value: _*)

  /** `(key, id, mult, extra…)`: one row per class, `id` = min member id.
    * `extra` are further aggregates over a class's members — e.g.
    * `first` of a column every member of the class shares. */
  def classes(members: DataFrame, id: String, key: String, extra: Column*): DataFrame =
    members.groupBy(col(key))
      .agg(min(col(id)).as(id), (count(lit(1)).as("mult") +: extra): _*)

  /** Representative pairs → member pairs. `members` is `(id, key)`,
    * `classes` carries `(key, id)`, and `repPairs` carries `(a, b,
    * value)` over class reps with a < b. Cross-class member pairs
    * inherit their reps' value (a function of the two values, identical
    * across members); intra-class pairs are identical values and get
    * `intraValue`. Returns `(a, b, value)` with a < b. */
  def expandPairs(members: DataFrame, classes: DataFrame, repPairs: DataFrame,
      a: String, b: String, value: String, intraValue: Column): DataFrame = {
    val Seq(id, k) = members.columns.toSeq
    val reps = classes.select(col(id), col(k))
    val cross = repPairs
      .join(reps.select(col(id).as(a), col(k).as("ka")), a)
      .join(reps.select(col(id).as(b), col(k).as("kb")), b)
      .join(members.select(col(id).as("xa"), col(k).as("ka")), "ka")
      .join(members.select(col(id).as("xb"), col(k).as("kb")), "kb")
      .select(least(col("xa"), col("xb")).as(a),
        greatest(col("xa"), col("xb")).as(b), col(value))
    val intra = members.as("x").join(members.as("y"),
        col(s"x.$k") === col(s"y.$k") && col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as(a), col(s"y.$id").as(b), intraValue.as(value))
    cross.unionByName(intra)
  }

  /** Connected components of the member graph, computed on the rep
    * graph: [[ConnectedComponents.run]] over `repEdges` (two rep-id
    * columns), then members inherit their rep's component. A class with
    * mult ≥ 2 and no edge is a component of its own (its members are
    * identical, hence linked); an edgeless singleton does not appear,
    * as in [[ConnectedComponents.run]]. `members` is `(id, key)`,
    * `classes` carries `(key, id, mult)`. Returns `(id, component)`,
    * component = the min member id of the component. */
  def components(members: DataFrame, classes: DataFrame, repEdges: DataFrame): DataFrame = {
    val Seq(id, k) = members.columns.toSeq
    val groups = classes.select(col(k), col(id).as("rep"), col("mult"))
    val repCc = ConnectedComponents.run(repEdges)
      .select(col("node").as("rep"), col("component"))
    val solo = groups.filter(col("mult") >= 2)
      .join(repCc.select(col("rep")), Seq("rep"), "left_anti")
      .select(col("rep"), col("rep").as("component"))
    members
      .join(groups.select(col(k), col("rep")), k)
      .join(repCc.unionByName(solo), "rep")
      .select(col(id), col("component"))
  }
}
