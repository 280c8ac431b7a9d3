package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** lang_id_v2 breadth (r4): the script-profile discriminator plus the
  * latin stopword/diacritic profiles must produce >= 7 non-vacuous
  * language classes over the sf0.01 corpus, and the latin profiles must
  * never fire on plain English documents. */
class LangIdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("eight language classes, each non-vacuous at sf0.01") {
    import spark.implicits._
    val counts = graft.queries.Queries.all("lang_id_v2")(spark, "/root/testdata/sf0.01")
      .groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    Seq("en", "fr", "de", "es", "ja", "ko", "zh", "und").foreach { l =>
      assert(counts.getOrElse(l, 0L) > 0L, s"class '$l' vacuous: $counts")
    }
    // english stays the majority class (the base corpus)
    assert(counts("en") > counts.values.sum / 2)
  }

  test("v3 breadth: sixteen language classes, each non-vacuous at sf0.01") {
    import spark.implicits._
    val counts = graft.queries.Queries.all("lang_id_v3")(spark, "/root/testdata/sf0.01")
      .groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    Seq("en", "fr", "de", "es", "it", "pt", "ja", "ko", "zh",
      "ru", "el", "ar", "he", "th", "hi", "und").foreach { l =>
      assert(counts.getOrElse(l, 0L) > 0L, s"class '$l' vacuous: $counts")
    }
    // the v3 ladder refines v2: every v2 non-und verdict is preserved
    val v2 = graft.queries.Queries.all("lang_id_v2")(spark, "/root/testdata/sf0.01")
      .withColumnRenamed("lang", "v2lang")
    val v3 = graft.queries.Queries.all("lang_id_v3")(spark, "/root/testdata/sf0.01")
    val changed = v3.join(v2, "doc_id")
      .where("v2lang <> 'und' AND lang <> v2lang").count()
    assert(changed == 0L, "v3 flipped a v2 non-und verdict")
  }

  test("latin marker words are ASCII-only (RE2 \\b is an ASCII boundary)") {
    graft.queries.ClassifySignals.LatinMarkers.foreach { case (lang, words, _) =>
      assert(words.forall(_ < 128), s"non-ASCII in $lang marker words")
    }
  }
}
