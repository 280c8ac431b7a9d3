package graft.tools

import graft.corpus.DocGen
import java.nio.file.{Files, Paths}

/** Dev tool: freeze golden span sequences for a fixed doc set into
  * src/test/resources/golden/ (FIXTURES.md §3). Frozen fixtures catch
  * accidental co-drift of generator+pipeline (both changing in lockstep
  * would still pass the live golden compare). */
object FixtureDump {
  val fixtureIds: Seq[String] =
    Seq(0L, 3L, 7L, 31L, 42L, 77L, 123L, 199L).map(DocGen.docId)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("src/test/resources/golden")
    Files.createDirectories(Paths.get(outDir))
    fixtureIds.foreach { id =>
      val g = DocGen.golden(id)
      val spans = g.spans.map { s =>
        s"""  {"kind":"${esc(s.kind)}","text":"${esc(s.text)}","media_ref":"${esc(s.media_ref)}","order":${s.order}}"""
      }.mkString("[\n", ",\n", "\n]")
      Files.writeString(Paths.get(s"$outDir/$id.json"), spans)
    }
    println(s"wrote ${fixtureIds.size} fixtures to $outDir")
  }
}
