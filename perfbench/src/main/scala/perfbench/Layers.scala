package perfbench

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.operators.SnapshotLog

/** Point lookups through `SnapshotLog.lookupKeys`, and what the `sources`
  * layer read to answer them.
  */
object Lookups {
  final case class Probe(keys: Seq[Long], returned: Set[Long], rowsRead: Long, files: Int)

  /** Looks `keys` up in the latest version and collects. */
  def lookup(ctx: Ctx, tableDir: String, keys: Seq[Long]): (DataFrame, Array[Row]) = {
    val spark = ctx.spark
    import spark.implicits._
    val ver = SnapshotLog.latestVersion(spark, tableDir)
    ctx.call("operators.SnapshotLog.lookupKeys") {
      val df = SnapshotLog.lookupKeys(spark, tableDir, ver, keys.toDF("id"))
      (df, df.collect())
    }
  }

  def measure(keys: Seq[Long], df: DataFrame, rows: Array[Row]): Probe =
    Probe(keys, rows.map(_.getAs[Long]("id")).toSet, scanRows(df.queryExecution.executedPlan),
      df.inputFiles.length)

  def probe(ctx: Ctx, tableDir: String, keys: Seq[Long]): Probe = {
    val (df, rows) = lookup(ctx, tableDir, keys)
    measure(keys, df, rows)
  }

  /** Rows the plan's file scans produced (after row-group skipping). */
  def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case o => (o.children ++ o.subqueries).map(scanRows).sum
  }

  def metrics(ps: Seq[Probe]): Map[String, Double] = Map(
    "sources.rows_read" -> Stats.mean(ps.map(_.rowsRead.toDouble)),
    "sources.rows_read_per_row_out" ->
      (if (ps.isEmpty) 0.0 else ps.map(_.rowsRead).sum.toDouble / math.max(1, ps.map(_.returned.size).sum)),
    "sources.files_read" -> Stats.mean(ps.map(_.files.toDouble)))
}

/** File-level facts of snapshot commits. */
object Commits {
  final case class Commit(version: Long, rewritten: Int, rowsChanged: Long,
      rowsWritten: Long, manifestBytes: Long)

  private def rowsIn(spark: SparkSession, tableDir: String, name: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(s"$tableDir/data/$name"), conf))
    try r.getRecordCount finally r.close()
  }

  /** Reads the manifests of version `v` and the one before, and the row
    * counts of the files `v` added.
    */
  def describe(spark: SparkSession, tableDir: String, v: Long, rowsChanged: Long): Commit = {
    val prev = v - 1
    val before = (SnapshotLog.manifest(spark, tableDir, prev) ++
      SnapshotLog.deletes(spark, tableDir, prev)).toSet
    val after = SnapshotLog.manifest(spark, tableDir, v) ++ SnapshotLog.deletes(spark, tableDir, v)
    val added = after.filterNot(before.contains)
    // data files the commit dropped: CowMergeReport.nRewritten for merges
    val dropped = SnapshotLog.manifest(spark, tableDir, prev).toSet -- after
    Commit(v, dropped.size, rowsChanged,
      added.map(rowsIn(spark, tableDir, _)).sum,
      new File(tableDir, f"_log/$v%06d.manifest").length())
  }

  /** Bytes of the files the latest manifest references. */
  def liveBytes(spark: SparkSession, tableDir: String): Long = {
    val v = SnapshotLog.latestVersion(spark, tableDir)
    (SnapshotLog.manifest(spark, tableDir, v) ++ SnapshotLog.deletes(spark, tableDir, v) ++
      SnapshotLog.bloomSidecars(spark, tableDir, v))
      .map(n => new File(tableDir, s"data/$n").length()).sum
  }

  def metrics(cs: Seq[Commit]): Map[String, Double] = Map(
    "operators.SnapshotLog.files_rewritten_per_commit" -> Stats.mean(cs.map(_.rewritten.toDouble)),
    "operators.SnapshotLog.rows_written_per_row_changed" ->
      (if (cs.isEmpty) 0.0 else cs.map(_.rowsWritten).sum.toDouble / math.max(1L, cs.map(_.rowsChanged).sum)),
    "operators.SnapshotLog.manifest_bytes_per_commit" -> Stats.mean(cs.map(_.manifestBytes.toDouble)))
}
