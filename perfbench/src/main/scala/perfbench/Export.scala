package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Build step: writes the `documents` table of a scale-factor directory
  * as `doc_id<TAB>text` lines, in doc_id order, for the Python fixture
  * generator. Usage: `perfbench.Export <sf dir> <out.tsv>`. */
object Export {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-export")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", Paths.get("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    try {
      val rows = graft.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text").orderBy("doc_id").collect()
      val lines = rows.map { r =>
        val text = r.getString(1)
        require(!text.exists(c => c == '\t' || c == '\n' || c == '\r'),
          s"doc ${r.getLong(0)}: text holds a tab or newline")
        s"${r.getLong(0)}\t$text"
      }
      Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    } finally spark.stop()
  }
}
