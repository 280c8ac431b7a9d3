package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.corpus.{DocGen, HtmlGen, ImgGen, OfficeGen, OleGen, PdfGen}
import graft.queries.Oracles.GoldenDir
import graft.queries.Queries.spanRows
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The committed golden tables the DuckDB oracles join against, for doc
  * ids 0..4999 (covers sf0.01 and sf0.1). Each is built from a generator's
  * authoring structure, never from the pipeline or a converter, so every
  * oracle that reads one is a real cross-check:
  *
  *   - `extract_golden`: [[DocGen.golden]], the renderer-side span
  *     sequences (`extract_pipeline` and the span-derived queries);
  *   - `html_golden`, `office_golden`, `pdf_golden`, `image_golden`,
  *     `ole_golden`: each input tier's golden spans (the converter
  *     queries and `ingest_raw`);
  *   - `classify_raw`: [[DocGen.rawPages]], the raw text layer that the
  *     classify and language-id oracles recompute their signals from.
  *
  * Usage: `GoldenDump [outDir]` freezes all seven into `outDir` (default:
  * the committed dir). Regenerate them together on any generator content
  * change; GoldenTablesSpec fails until then. */
object GoldenDump {

  /** Doc ids 0 until this many are frozen. */
  val Docs = 5000L

  /** Each table's name and its rows over a set of doc ids. */
  val tables: Seq[(String, Dataset[String] => DataFrame)] = Seq(
    "extract_golden" -> (spanRows(_)(DocGen.golden(_).spans)),
    "html_golden" -> (spanRows(_)(HtmlGen.golden)),
    "office_golden" -> (spanRows(_)(OfficeGen.golden)),
    "pdf_golden" -> (spanRows(_)(PdfGen.golden)),
    "image_golden" -> (spanRows(_)(ImgGen.golden)),
    "ole_golden" -> (spanRows(_)(OleGen.golden)),
    "classify_raw" -> { ids =>
      import ids.sparkSession.implicits._
      ids.flatMap(DocGen.rawPages).toDF().orderBy("doc_id", "page_idx")
    })

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(GoldenDir)
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    freeze(spark, outDir)
    spark.stop()
  }

  /** Write every table as one parquet file `outDir/<name>.parquet`. */
  def freeze(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    val ids = spark.range(Docs).map(i => DocGen.docId(i))
    Files.createDirectories(Paths.get(outDir))
    tables.foreach { case (name, rows) =>
      val df = rows(ids)
      val tmp = Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(outDir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      println(s"wrote ${df.count()} rows to $outDir/$name.parquet")
    }
  }
}
