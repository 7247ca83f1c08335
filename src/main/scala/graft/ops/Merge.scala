package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flagship wide merge (SURVEY.md §2.3 J1; reference
  * `queue/request_tools.py:617-708`): N per-extract frames are merged into
  * one wide result table keyed on the boundary-feature id `asdf_id`
  * (`queue/templates/field_names.txt:3`), with systematic column renaming
  * (see [[Naming]]) and a fixed output order: `asdf_id`, then extract
  * columns, then passthrough attributes (`queue/request_tools.py:690-695`).
  *
  * The reference aligns frames by *row order* (pandas index assignment,
  * `queue/request_tools.py:686`) with `asdf_id` assumed consistent; this
  * engine makes the key explicit — a documented semantic upgrade
  * (SURVEY.md §7.5.2).
  *
  * Scale: each extract frame is already aggregated to |zones| rows, so every
  * join side is small relative to the fact data and is broadcast at the
  * default threshold.
  */
object Merge {

  /** Left-fold merge of extract frames onto a base (boundary attribute)
    * frame. Each frame must be keyed by `key` and already renamed via the
    * [[Naming]] grammar.
    */
  def wide(base: DataFrame, extracts: Seq[DataFrame], key: String = "asdf_id"): DataFrame = {
    val merged = extracts.foldLeft(base)((acc, f) => acc.join(f, Seq(key), "left"))
    reorder(merged, base.columns.filterNot(_ == key).toSeq, key)
  }

  /** Column order: key first, extract columns (everything not in
    * `passthrough`) next, passthrough attributes last
    * (`queue/request_tools.py:690-695`). */
  def reorder(df: DataFrame, passthrough: Seq[String], key: String = "asdf_id"): DataFrame = {
    val ex = df.columns.filterNot(c => c == key || passthrough.contains(c))
    df.select(((key +: ex.toIndexedSeq) ++ passthrough).map(col): _*)
  }

  /** Drop pre-existing `exfield_*` value columns from a base frame before
    * merging (reference P7, `queue/request_tools.py:649-656`). */
  def dropExFields(df: DataFrame): DataFrame =
    df.drop(df.columns.toIndexedSeq.filter(_.startsWith("exfield_")): _*)

  /** Render reference-faithful dotted column names at the CSV edge. */
  def displayNames(df: DataFrame): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, Naming.display(c)))
}
