package perfbench

import java.io.{File, PrintWriter}
import graft.SparkEntry

/** Records the curate probe's expected outputs from the UNPERMUTED
  * corpus in `dataDir`: each query's content hash into
  * `dataDir/curate_expected.tsv`, and each result plus its oracle SQL
  * under `outDir` in the layout `tools/check.py` compares against DuckDB.
  *
  * Usage: `Record <dataDir> <outDir>` (see `perfbench/record_curate.py`).
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir) = args
    val spark = graft.GraftSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = CurateProbe.Queries.map { q =>
      val path = s"$outDir/$q"
      SparkEntry.queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(path)
      val (n, h) = Inputs.contentHash(spark.read.parquet(path))
      s"$q\t$n\t$h"
    }
    val w = new PrintWriter(new File(dataDir, CurateProbe.ExpectedFile), "UTF-8")
    try {
      w.println("# query\trows\tsum of xxhash64 over the row's columns in name order")
      lines.foreach(w.println)
    } finally w.close()
    val oracle = CurateProbe.Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    val o = new PrintWriter(new File(outDir, "oracle_sql.json"), "UTF-8")
    try o.println(Json.render(oracle.toMap)) finally o.close()
    val missing = CurateProbe.Queries.filterNot(SparkEntry.oracleSql.contains)
    if (missing.nonEmpty) println(s"no oracle SQL for: ${missing.mkString(", ")}")
    lines.foreach(println)
    spark.stop()
  }
}
