package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A commit side table (`_checkpoint`, `_metrics`) as a frame, read from
  * the explicit list of its parquet files. Handed the dir itself, Spark
  * treats the `_` name as hidden and logs "All paths were ignored" on
  * every read; named files are read without a word. Hidden (`.`) files
  * are skipped, as the protocol's own reader skips them. */
object SideTable {
  def read(spark: SparkSession, dir: String): DataFrame = {
    val path = new Path(dir)
    val files = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(path, (p: Path) => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
      .map(_.getPath.toString)
    spark.read.parquet(files.toIndexedSeq: _*)
  }
}
