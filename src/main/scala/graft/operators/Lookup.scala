package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed lookup enrichment — the reference's only native join
  * (`BaseLookupSource`, sqltask/base/lookup_source.py:9-70).
  *
  * Reference semantics reproduced declaratively:
  *  - the lookup is a small, cached, keyed dataset → broadcast hash join;
  *  - duplicate keys: first-row-wins (lookup_source.py:28-36). Distributed
  *    "first" is meaningless without an order, so the winner is made
  *    deterministic via an explicit tiebreaker column (SURVEY.md §7.5);
  *    absent a tiebreaker we fall back to `dropDuplicates` (arbitrary but
  *    stable within a run);
  *  - lookup miss returns an empty dict (lookup_source.py:70) → left join
  *    yielding nulls for all value columns;
  *  - null keys never match (plain equality, not null-safe) — matches the
  *    tested behavior (tests/sources/test_generic.py:33: miss → empty).
  *
  * At scale: the lookup side is expected to be dimension-sized; `broadcast`
  * pins the plan to BroadcastHashJoin so a 100 TB probe side never shuffles.
  */
final case class Lookup(
    df: DataFrame,
    keys: Seq[String],
    tiebreaker: Option[String] = None) {
  require(keys.nonEmpty, "lookup needs at least one key column")

  /** Key-deduplicated lookup relation (first-row-wins). */
  def deduped: DataFrame = tiebreaker match {
    case Some(order) =>
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(order))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", order)
    case None => df.dropDuplicates(keys)
  }

  /** Left-enrich `input` with the lookup's value columns.
    *
    * @param keyMap input-column name per lookup key (defaults to same name)
    */
  def enrich(input: DataFrame, keyMap: Map[String, String] = Map.empty): DataFrame = {
    val right = deduped
    val cond: Column = keys
      .map(k => input(keyMap.getOrElse(k, k)) === right(k))
      .reduce(_ && _)
    val joined = input.join(broadcast(right), cond, "left")
    // Drop the lookup's key columns: enrichment adds value columns only,
    // like the reference's dict merge of non-key values.
    keys.foldLeft(joined)((d, k) => d.drop(right(k)))
  }
}
