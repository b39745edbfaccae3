package graft.ingest

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** The two struct-flattening strategies of the reference, re-expressed as
  * schema-time column derivations (driver-side StructType walks emitting a
  * single `select` — zero runtime cost beyond the projection itself, which
  * Catalyst collapses into the scan).
  *
  *  - `loopdict` (/root/reference/dags/extract.py:92-99): pd.json_normalize
  *    dot-flattens structs depth-first in key order; every column is then
  *    renamed to its LAST dotted segment; duplicate names keep the FIRST
  *    occurrence (extract.py:112). Arrays survive as whole cells (pandas
  *    list cells) until explicitly dropped.
  *  - `flattenDictStyle` (/root/reference/dags/optimized_extract.py:25-39):
  *    recursive walk where dict values recurse WITHOUT any parent prefix
  *    (sub_keys are extended bare), and list values explode positionally
  *    into `{key}_{i}` columns.
  */
object Flatten {

  /** Depth-first leaf paths (declaration order). Arrays and maps are
    * leaves — only structs recurse, mirroring pd.json_normalize.
    */
  def leafPaths(schema: StructType, prefix: String = ""): Seq[String] =
    leafFields(schema, prefix).map(_._1)

  private def leafFields(schema: StructType, prefix: String): Seq[(String, StructField)] =
    schema.fields.toSeq.flatMap { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      f.dataType match {
        case s: StructType => leafFields(s, p)
        case _ => Seq(p -> f)
      }
    }

  /** loopdict's kept leaves: dot-flatten -> last-segment rename (a
    * leaf's own name) -> keep-first dedup.
    */
  private def loopdictLeaves(schema: StructType): Seq[(String, StructField)] = {
    val seen = mutable.HashSet.empty[String]
    leafFields(schema, "").filter { case (_, f) => seen.add(f.name) }
  }

  /** loopdict: dot-flatten -> last-segment rename -> keep-first dedup. */
  def loopdict(df: DataFrame): DataFrame =
    df.select(loopdictLeaves(df.schema).map { case (p, f) => col(p).as(f.name) }: _*)

  /** The row type [[loopdict]] gives a frame of `schema`, without one. */
  def loopdictSchema(schema: StructType): StructType =
    StructType(loopdictLeaves(schema).map(_._2))

  /** flatten_dict: bare leaf names, arrays positionally exploded into
    * `{name}_{i}`. The reference derives each row's width from that row's
    * actual list lengths (it processes one item at a time); a columnar
    * engine needs fixed arity, so `arrayLens` pins the explode width per
    * array field name — pass the observed length of row 0 to replicate
    * the reference's single-item behavior.
    */
  def flattenDictStyle(df: DataFrame, arrayLens: Map[String, Int]): DataFrame = {
    def walk(schema: StructType, prefix: String): Seq[(String, Column)] =
      schema.fields.toSeq.flatMap { f =>
        val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: StructType => walk(s, p)
          case _: ArrayType =>
            // try_element_at: a row whose list is shorter than the pinned
            // width gets NULL (ANSI element_at would throw) — matching the
            // reference's "column absent for that row" pandas behavior.
            val n = arrayLens.getOrElse(f.name, 0)
            (0 until n).map(i => s"${f.name}_$i" -> try_element_at(col(p), lit(i + 1)))
          case _ => Seq(f.name -> col(p))
        }
      }
    // NOTE: unlike loopdict there is no dedup in the reference (it would
    // produce duplicate-named pandas columns); Spark forbids duplicate
    // output names, so keep-first is applied for engine validity.
    val seen = mutable.HashSet.empty[String]
    val cols = walk(df.schema, "").flatMap { case (name, c) =>
      if (seen.add(name)) Some(c.as(name)) else None
    }
    df.select(cols: _*)
  }
}
