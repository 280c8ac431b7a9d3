package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.corpus.DocGen
import graft.queries.Oracles
import graft.tools.GoldenDump

/** The committed golden tables are what their generators build today:
  * for a strided sample of the frozen ids, each [[GoldenDump]] table's
  * rows equal the committed parquet's rows for those ids. A generator
  * whose content drifts from its frozen golden fails here, before any
  * oracle run. */
class GoldenTablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  // 218 ids over [0, 5000): a stride prime to the corpus's mod-5 tiers
  private val sample = (0L until GoldenDump.Docs by 23).map(DocGen.docId)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.toString)

  GoldenDump.tables.foreach { case (name, build) =>
    test(s"$name: built rows equal the committed rows for the sampled ids") {
      import spark.implicits._
      val built = build(spark.createDataset(sample))
      val committed = spark.read.parquet(s"${Oracles.GoldenDir}/$name.parquet")
        .filter(col("doc_id").isin(sample: _*))
      def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      assert(columns(built) == columns(committed))
      val (got, want) = (rows(built), rows(committed))
      assert(want.map(_.head).distinct.size > 100, s"$name: too few sampled ids frozen")
      val same = got == want
      assert(same, s"$name: ${got.size} rows built, ${want.size} committed; " +
        s"built only: ${got.diff(want).take(2)}; committed only: ${want.diff(got).take(2)}")
    }
  }
}
