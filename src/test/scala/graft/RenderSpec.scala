package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Assemble
import graft.schema.{Kinds, OrderedBlock}

/** The renderers the golden shares with the pipeline, pinned by hand
  * fixtures: the text join and the markdown render. */
class RenderSpec extends AnyFunSuite {

  private def blk(kind: String, text: String, ref: String = "", level: Int = 0) =
    OrderedBlock(kind, text, ref, 0, 0, level)

  test("joinText hand fixtures (golden shares this path — pinned independently)") {
    import graft.textnorm.TextNorm.{joinText, joinAll}
    assert(joinText("hyphen wor-", "d end") == "hyphen word end")
    assert(joinText("latin tail", "next head") == "latin tail next head")
    assert(joinText("中文结尾", "继续文本") == "中文结尾继续文本")
    assert(joinText("mixed 结尾", "next") == "mixed 结尾 next")
    assert(joinText("ends 片", "仮名") == "ends 片仮名")
    assert(joinText("", "x") == " x")
    assert(joinAll(Seq("a-", "b", "平仮", "名", "tail")) == "ab 平仮名 tail")
  }

  test("renderMarkdown hand fixture (golden shares this path — pinned independently)") {
    val blocks = Vector(
      blk(Kinds.Title, "Doc Title", level = 1),
      blk(Kinds.Text, "Plain paragraph."),
      blk(Kinds.Caption, "Table 1: Table Caption"),
      blk(Kinds.Table, "<table><tr><td>a</td></tr></table>"),
      blk(Kinds.Footnote, "Note: n."),
      blk(Kinds.Formula, "$$ x $$ \\tag{3}"),
      blk(Kinds.Figure, "", ref = "img://h"),
      blk(Kinds.ImageFootnote, "Fig note."),
      blk(Kinds.Title, "Section", level = 3),
      blk(Kinds.Algorithm, "return total"),
      blk(Kinds.Checkbox, "☑ opt in"),
      blk(Kinds.Seal, "SEAL Alpha Beta"),
      blk(Kinds.ListK, "- a;\n- b."))
    assert(Assemble.renderMarkdown(blocks) ==
      """# Doc Title
        |
        |Plain paragraph.
        |
        |*Table 1: Table Caption*
        |
        |<table><tr><td>a</td></tr></table>
        |
        |*Note: n.*
        |
        |$$ x $$ \tag{3}
        |
        |![](img://h)
        |
        |*Fig note.*
        |
        |### Section
        |
        |```python
        |return total
        |```
        |
        |☑ opt in
        |
        |SEAL Alpha Beta
        |
        |- a;
        |- b.""".stripMargin)
  }
}
