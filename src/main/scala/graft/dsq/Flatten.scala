package graft.dsq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion normalization to the reference's "array of objects" data
  * model (reference: README.md:240-364, sqlite.go:116-152):
  *
  *  - nested objects flatten to top-level columns named by the dot-joined
  *    path (literal dots in keys escaped with a backslash);
  *  - nested arrays serialize to JSON strings;
  *  - booleans become 0/1 (SQLite affinity — reference mode() test expects
  *    `mode(Activated)` = 1);
  *  - only scalar leaf columns survive.
  *
  * All transforms are narrow per-row projections — no shuffle, fully
  * codegen'd, scale-free.
  */
object Flatten {

  private def escapeSeg(s: String): String = s.replace(".", "\\.")

  /** Leaf columns of a (possibly nested) schema in dsq naming. */
  private def leaves(schema: StructType, prefix: Seq[String]): Seq[(Seq[String], DataType)] =
    schema.fields.toSeq.flatMap { f =>
      val path = prefix :+ f.name
      f.dataType match {
        case st: StructType => leaves(st, path)
        case dt => Seq((path, dt))
      }
    }

  private def normalizeValue(c: Column, dt: DataType): Column = dt match {
    case BooleanType => when(c.isNull, lit(null)).otherwise(c.cast("int"))
    case _: ArrayType | _: MapType => to_json(c)
    case _ => c
  }

  /** Flatten a freshly-parsed DataFrame into the dsq table model. */
  def apply(df: DataFrame): DataFrame = {
    val cols = leaves(df.schema, Nil).map { case (path, dt) =>
      val src = path.foldLeft(null: Column)((acc, seg) =>
        if (acc == null) col(quote(seg)) else acc.getField(seg))
      normalizeValue(src, dt).as(path.map(escapeSeg).mkString("."))
    }
    df.select(cols: _*)
  }

  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Column-level numeric-affinity conversion (`--convert-numbers`,
    * reference main.go:633-637, sqlite.go:36-49): a string column whose
    * non-null, non-empty values all parse numerically becomes numeric —
    * integral if every value is integral, else double; an empty value
    * (a CSV's empty field) becomes null. One aggregate pass decides all
    * columns at once (single job, map-side combine).
    */
  def convertNumbers(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (strCols.isEmpty) return df
    val probes = strCols.flatMap { c =>
      val q = quote(c)
      Seq(
        count(when(col(q) =!= "", true)).as(s"n_$c"),
        count(expr(s"try_cast($q AS DOUBLE)")).as(s"d_$c"),
        count(expr(s"try_cast($q AS BIGINT)")).as(s"l_$c"))
    }
    val row = df.agg(probes.head, probes.tail: _*).collect()(0)
    val casts = strCols.collect {
      case c if row.getAs[Long](s"n_$c") > 0 &&
        row.getAs[Long](s"d_$c") == row.getAs[Long](s"n_$c") =>
        if (row.getAs[Long](s"l_$c") == row.getAs[Long](s"n_$c"))
          c -> col(quote(c)).cast("bigint")
        else c -> col(quote(c)).cast("double")
    }.toMap
    df.select(df.schema.fieldNames.map(n =>
      casts.get(n).map(_.as(n)).getOrElse(col(quote(n)))): _*)
  }
}
