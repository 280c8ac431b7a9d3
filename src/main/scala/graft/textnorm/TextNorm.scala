package graft.textnorm

/** Text normalization kernel (reference surface:
  * full_to_half pipeline_middle_json_mkcontent.py:113-130,
  * ligature/unicode cleanup span_pre_proc.py:128-138,
  * markdown escaping pipeline_middle_json_mkcontent.py:372-381). */
object TextNorm {

  /** zh/ja/ko script test (Han + kana + hangul) — the single CJK predicate
    * shared by the lang-aware join and the list ladder's closed-area
    * threshold (the reference routes both through detect_lang's zh/ja/ko
    * branch, utils/language.py:22-41). */
  @inline def isCjkChar(c: Char): Boolean =
    (c >= 0x4e00 && c <= 0x9fff) || (c >= 0x3040 && c <= 0x30ff) ||
      (c >= 0xac00 && c <= 0xd7af)

  /** Lang-aware paragraph/line join (merge_para_with_text,
    * pipeline_middle_json_mkcontent.py:146-202): zh/ja/ko text joins
    * without a space, latin with one; a trailing hyphen joins the split
    * word directly (hyphen rule, :11-21). Shared by the pipeline's line
    * merge, the doc-level paragraph merge and the golden generator. */
  def joinText(a: String, b: String): String =
    if (a.endsWith("-")) a.dropRight(1) + b
    else if (a.nonEmpty && b.nonEmpty && isCjkChar(a.last) && isCjkChar(b.head)) a + b
    else a + " " + b

  /** `parts.reduceLeft(joinText)` without the quadratic intermediate
    * strings: one StringBuilder, same join decisions (the decision only
    * reads the accumulated tail char and the next head char). */
  def joinAll(parts: Seq[String]): String = {
    val it = parts.iterator
    val sb = new java.lang.StringBuilder(it.next())
    while (it.hasNext) {
      val b = it.next()
      val len = sb.length()
      if (len > 0 && sb.charAt(len - 1) == '-') sb.setLength(len - 1)
      else if (!(len > 0 && b.nonEmpty && isCjkChar(sb.charAt(len - 1)) && isCjkChar(b.head)))
        sb.append(' ')
      sb.append(b)
    }
    sb.toString
  }

  /** Fullwidth -> halfwidth: U+FF01..U+FF5E shift by -0xFEE0, ideographic
    * space U+3000 -> ' '. Exact port of the reference mapping. */
  def fullToHalf(s: String): String = {
    var changed = false
    var i = 0
    val n = s.length
    while (i < n && !changed) {
      val c = s.charAt(i)
      if ((c >= 0xff01 && c <= 0xff5e) || c == 0x3000) changed = true
      i += 1
    }
    if (!changed) return s
    val out = new Array[Char](n)
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      out(i) =
        if (c >= 0xff01 && c <= 0xff5e) (c - 0xfee0).toChar
        else if (c == 0x3000) ' '
        else c
      i += 1
    }
    new String(out)
  }

  private val ligatures = Seq(
    "ﬀ" -> "ff", "ﬁ" -> "fi", "ﬂ" -> "fl",
    "ﬃ" -> "ffi", "ﬄ" -> "ffl")

  /** Typographic ligatures -> ASCII sequences (span_pre_proc.py:128-133). */
  def replaceLigatures(s: String): String = {
    var out = s
    ligatures.foreach { case (lig, rep) =>
      if (out.contains(lig)) out = out.replace(lig, rep)
    }
    out
  }
}
