package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{NumericType, StructField}

/** Markdown table rendering for pipeline validation output — S10 parity with
  * the reference, which prints its stage-end validation queries through
  * `duckdb -markdown` (/root/reference/src/read-pgn.ts:54-56,
  * /root/reference/src/export-to-parquet.ts:102-104): pipe-delimited header,
  * a separator row with `:` on the right side of numeric columns
  * (right-aligned), then padded value rows.
  *
  * Driver-side by design: validation tables are stage summaries (counts,
  * parse-error samples) — `maxRows` caps the collect so a pathological
  * input cannot pull a fact table onto the driver; overflow is marked with
  * a trailing ellipsis row instead of silently truncating.
  */
object Markdown {

  def render(df: DataFrame, maxRows: Int = 100): String = {
    val (rows, overflow) = collectCapped(df, maxRows)
    table(df.schema.fields.toIndexedSeq, rows.map(r => df.columns.indices.map(cell(r, _))),
      overflow)
  }

  /** Each column of `df` as its own one-column table, from ONE collect: a
    * summary aggregate computing N statistics prints N tables for the
    * price of one job (each table is what [[render]] prints for that
    * column alone).
    */
  def renderColumns(df: DataFrame): Seq[String] = {
    val (rows, overflow) = collectCapped(df, 100)
    df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      table(IndexedSeq(f), rows.map(r => IndexedSeq(cell(r, i))), overflow)
    }
  }

  private def collectCapped(df: DataFrame, maxRows: Int): (Seq[Row], Boolean) = {
    val collected = df.limit(maxRows + 1).collect()
    (collected.take(maxRows).toSeq, collected.length > maxRows)
  }

  private def cell(r: Row, i: Int): String = if (r.isNullAt(i)) "NULL" else r.get(i).toString

  private def table(fields: IndexedSeq[StructField], cells: Seq[IndexedSeq[String]],
      overflow: Boolean): String = {
    val cols = fields.map(_.name)
    val rightAlign = fields.map(_.dataType.isInstanceOf[NumericType])
    val widths = cols.indices.map(i =>
      math.max(cols(i).length, (3 +: cells.map(_(i).length)).max))

    def pad(s: String, i: Int): String =
      if (rightAlign(i)) (" " * (widths(i) - s.length)) + s
      else s + (" " * (widths(i) - s.length))

    def row(vals: IndexedSeq[String]): String =
      vals.indices.map(i => pad(vals(i), i)).mkString("| ", " | ", " |")

    val sep = cols.indices.map { i =>
      if (rightAlign(i)) ("-" * (widths(i) + 1)) + ":" else "-" * (widths(i) + 2)
    }.mkString("|", "|", "|")

    val body = cells.map(row)
    val tail = if (overflow) Seq(row(cols.indices.map(i => if (i == 0) "..." else ""))) else Nil
    (Seq(row(cols), sep) ++ body ++ tail).mkString("\n")
  }
}
