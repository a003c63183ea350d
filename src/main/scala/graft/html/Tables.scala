package graft.html

import scala.collection.mutable

/** Structured table extraction: every `<table>`'s cells as
  * (table_idx, row_idx, col_idx, is_header, text) rows — the surface
  * table-to-text / table-QA corpora are built from, and the structured twin
  * of [[Boilerplate]]'s layout rendering (which linearizes a row as
  * `"a | b"` for the plain-text corpus). ADDITIVE surface — the reference
  * has no HTML code.
  *
  * Semantics:
  *  - `table_idx` is the order of `<table>` OPEN tags in the document
  *    (0-based), so nested tables get their own index;
  *  - a nested table's content belongs to the NESTED table's cells only:
  *    the containing cell's text pauses at the inner `<table>` and resumes
  *    after its `</table>` (no text is duplicated and none is lost);
  *  - `row_idx` counts `<tr>` opens per table; a cell arriving before any
  *    `<tr>` (markup in the wild omits it) opens implied row 0;
  *  - `col_idx` counts `td`/`th` opens per row — implied closes follow
  *    HTML5 tree construction: a new `td`/`th`/`tr` or a table close ends
  *    the open cell, EOF closes everything (truncated pages still yield
  *    their cells);
  *  - empty cells are STRUCTURE (column alignment) and are emitted with
  *    `text == ""`;
  *  - `<caption>`, `<thead>`/`<tbody>`/`<tfoot>` and inter-cell whitespace
  *    are transparent — caption text is not a cell;
  *  - cell text is the cell's [[InnerText]] (inline tags transparent,
  *    `<br>` separates words, entities decoded), collected from the one
  *    [[Tokenizer]] walk — so a `<td>` forged inside `<script>` or a
  *    comment can neither open a cell nor leak text.
  *
  * A per-row projection: ZERO shuffles at any corpus size. */
object Tables {

  /** One emitted cell. `header` marks `<th>` cells. */
  final case class TableCell(tableIdx: Int, rowIdx: Int, colIdx: Int,
      header: Boolean, text: String)

  /** All cells of all tables. Emission order is cell-CLOSE order (a nested
    * table's cells close before their containing cell) — callers wanting
    * document layout sort by (tableIdx, rowIdx, colIdx). */
  def cells(html: String): Seq[TableCell] = {
    // one open cell per table on the stack at most; text goes to the open
    // cell of the innermost table, so a nested table pauses the containing
    // cell and its close resumes it
    final class OpenCell(val row: Int, val col: Int, val header: Boolean) {
      val text = new InnerText
    }
    final class Tbl(val idx: Int) {
      var row: Int = -1
      var col: Int = -1
      var cell: OpenCell = null
    }
    val out = Vector.newBuilder[TableCell]
    val stack = mutable.ArrayBuffer.empty[Tbl]
    var nTables = 0
    def top: Tbl = stack(stack.length - 1)
    def closeCell(t: Tbl): Unit = {
      val c = t.cell
      if (c != null) {
        out += TableCell(t.idx, c.row, c.col, c.header, c.text.toString)
        t.cell = null
      }
    }
    val tok = new Tokenizer(html)
    while (tok.next()) {
      val open = if (stack.isEmpty) null else top.cell
      tok.kind match {
        case Tokenizer.Text => if (open != null) Entities.decodeTo(html, tok.from, tok.until, open.text)
        case Tokenizer.StartTag | Tokenizer.EndTag =>
          // HTML5 tree construction IGNORES the self-closing slash on
          // non-void elements: <td/> opens a cell that runs to the next
          // boundary, exactly like <td>
          val closing = tok.kind == Tokenizer.EndTag
          tok.name match {
            case "table" if !closing =>
              // the containing cell pauses: the inner table's text is not its text
              if (open != null) open.text.break()
              stack += new Tbl(nTables)
              nTables += 1
            case "table" =>
              if (stack.nonEmpty) {
                closeCell(top)
                stack.remove(stack.length - 1)
                // containing cell resumes after the inner table's close tag
                if (stack.nonEmpty && top.cell != null) top.cell.text.break()
              }
            case "tr" if !closing =>
              if (stack.nonEmpty) {
                val t = top
                closeCell(t)
                t.row += 1
                t.col = -1
              }
            case "td" | "th" if !closing =>
              if (stack.nonEmpty) {
                val t = top
                closeCell(t) // implied close of the previous cell
                if (t.row < 0) t.row = 0 // implied <tr>
                t.col += 1
                t.cell = new OpenCell(t.row, t.col, tok.name == "th")
              }
            case "tr" | "td" | "th" =>
              if (stack.nonEmpty) closeCell(top)
            case "br" => if (open != null) open.text.break()
            case _ => // thead/tbody/tfoot/caption and everything else: transparent
          }
        case _ =>
      }
    }
    // EOF closes anything still open (truncated / unclosed markup)
    while (stack.nonEmpty) {
      closeCell(top)
      stack.remove(stack.length - 1)
    }
    out.result()
  }

  def cells(bytes: Array[Byte]): Seq[TableCell] =
    cells(Boilerplate.decode(bytes))
}
