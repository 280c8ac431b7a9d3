package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.extensions", "graft.ext.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("native expressions are SQL-callable via SparkSessionExtensions") {
    import spark.implicits._
    val norm = spark.sql("SELECT full_to_half('ｆｕｌｌ　ｗｉｄｔｈ！') AS s")
      .as[String].head()
    assert(norm == "full width!")
    val delig = spark.sql("SELECT deligature('ﬁﬂuent oﬀice') AS s").as[String].head()
    assert(delig == "fifluent office")
    val sim = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").as[Double].head()
    assert(math.abs(sim - 1.0) < 1e-12)
    val orth = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 2.0D)) AS c").as[Double].head()
    assert(math.abs(orth) < 1e-12)
  }

  test("FoldSelfCosine optimizer rule folds the self-similarity loop away") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("cosine_sim(embedding, embedding) AS c")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosinesim") && !optimized.contains("CosineSim"),
      s"rule did not fire:\n$optimized")
    assert(df.filter("c = 1.0").count() == df.count())
  }

  test("count_matches / matched_chars agree with regexp_extract_all on tricky inputs") {
    import spark.implicits._
    val rows = Seq(
      "plain ascii text, with punct!!!! and .... leaders..........",
      "混合 CJK と kana カナ 한글 text", "", "   ", "a.b.c....d",
      "'s 't 're BPE-ish 123 splits", null.asInstanceOf[String])
    val df = rows.toDF("t")
    df.createOrReplaceTempView("cm_probe")
    val pats = Seq("""[!-/:-@\\[-`{-~]""", """\\.{8,}""", """ ?\\p{L}+""", """[\\x{4E00}-\\x{9FFF}]""")
    pats.foreach { p =>
      val bad = spark.sql(
        s"""SELECT t FROM cm_probe WHERE
           |  count_matches(t, '$p') IS DISTINCT FROM size(regexp_extract_all(t, '$p', 0)) OR
           |  matched_chars(t, '$p') IS DISTINCT FROM
           |    aggregate(transform(regexp_extract_all(t, '$p', 0), x -> length(x)), 0, (a, x) -> a + x)
           |""".stripMargin).count()
      assert(bad == 0, s"pattern $p diverges")
    }
    // null in, null out
    assert(spark.sql("SELECT count_matches(CAST(NULL AS STRING), 'x') IS NULL AS n")
      .as[Boolean].head())
  }

  test("GraftExtensions.install is idempotent and coexists with the extension path") {
    // install() targets Verify/Bench's bare sessions; here it must also be
    // a no-op on a session that ALREADY has the functions via
    // spark.sql.extensions — classifyRouterV2 calls it unconditionally on
    // whatever session it gets
    val s = spark.newSession()
    // each registration gets a fresh ExpressionInfo: the same object after
    // both calls means neither replaced the extension's
    def entry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      .functionRegistry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("count_matches"))
    val first = entry
    graft.ext.GraftExtensions.install(s)
    graft.ext.GraftExtensions.install(s) // twice: the first registration stays
    assert(first.isDefined && entry.get.eq(first.get))
    import s.implicits._
    assert(s.sql("SELECT count_matches('aXbXc', 'X') AS n").as[Int].head() == 2)
    assert(s.sql("SELECT matched_chars('..mm....', '\\\\.{2,}') AS n").as[Int].head() == 6)
  }

  test("expressions survive whole-stage codegen over a real column") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // slice(...) produces equal VALUES via a different expression tree, so
    // FoldSelfCosine cannot fire and the real codegen loop runs
    val n = df.selectExpr("cosine_sim(embedding, slice(embedding, 1, size(embedding))) AS c")
      .filter("abs(c - 1.0) < 1e-9").count()
    assert(n == df.count())
  }
}
