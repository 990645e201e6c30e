package perfbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{DedupFns, PathFns, TextFns}

/** The per-layer metrics of a traced run. Every workload reports the same
  * names; a layer the workload never calls reports 0.
  */
object TraceReport {

  /** Commit-making layer calls, for jobs per commit. */
  val CommitCalls = Set("operators.SnapshotLog.merge", "operators.SnapshotLog.deleteKeys",
    "operators.SnapshotLog.compact", "sql.update")

  /** Per-layer metric names and units, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio", "spark.driver_gap_ms" -> "ms",
    "sources.rows_read" -> "rows", "sources.rows_read_per_row_out" -> "ratio",
    "sources.files_read" -> "files",
    "functions.path_ns_per_row" -> "ns", "functions.shingle_ns_per_row" -> "ns",
    "functions.bpe_ns_per_row" -> "ns",
    "operators.Migration.resolve_ms" -> "ms", "operators.Migration.sinks_ms" -> "ms",
    "operators.Stage.write_ms" -> "ms", "operators.Stage.bytes_written" -> "bytes",
    "operators.SnapshotLog.merge_ms" -> "ms", "operators.SnapshotLog.delete_ms" -> "ms",
    "operators.SnapshotLog.lookup_ms" -> "ms", "operators.SnapshotLog.read_ms" -> "ms",
    "operators.SnapshotLog.cdc_ms" -> "ms", "operators.SnapshotLog.compact_ms" -> "ms",
    "operators.SnapshotLog.vacuum_ms" -> "ms", "operators.SnapshotLog.jobs_per_commit" -> "count",
    "operators.SnapshotLog.files_rewritten_per_commit" -> "files",
    "operators.SnapshotLog.rows_written_per_row_changed" -> "ratio",
    "operators.SnapshotLog.manifest_bytes_per_commit" -> "bytes",
    "sql.update_ms" -> "ms", "sql.plan_ms" -> "ms",
    "streaming.feed_ms" -> "ms", "streaming.rows_per_batch" -> "rows",
    "streaming.versions_behind" -> "versions") ++
    CurateProbe.Queries.flatMap(q => Seq(s"queries.${q}_s" -> "s", s"queries.$q.jobs" -> "count")) ++
    Seq("trace.result_s" -> "s", "trace.op_ms.p50" -> "ms")

  private def medianOf(ms: Seq[Double]): Double = if (ms.isEmpty) 0.0 else Stats.median(ms)

  def layers(ctx: Ctx, wl: Workload, iterS: Seq[Double], stageBytesPerIter: Double)
      : Seq[(String, String, Double)] = {
    val t = ctx.trace
    val spans = t.timed
    def callMs(name: String) = medianOf(spans.filter(s => s.kind == "call" && s.name == name).map(_.ms))
    val ops = spans.filter(_.kind == "op")
    val opJobs = ops.map(o => t.jobsUnder(o.id))
    val skews = t.listener.toSeq.flatMap(l => l.synchronized(l.stageTaskMs.values.toSeq))
      .filter(_.size >= 2).map { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        ts.max / math.max(med, 1.0)
      }
    val commitJobs = spans.filter(s => s.kind == "call" && CommitCalls(s.name))
      .map(s => t.jobsUnder(s.id).size.toDouble)
    val queries = CurateProbe.Queries.flatMap { q =>
      val ss = spans.filter(s => s.kind == "call" && s.name == s"queries.$q")
      Seq(s"queries.${q}_s" -> medianOf(ss.map(_.ms / 1e3)),
        s"queries.$q.jobs" -> Stats.mean(ss.map(s => t.jobsUnder(s.id).size.toDouble)))
    }
    val values: Map[String, Double] = Map(
      "spark.jobs" -> Stats.mean(opJobs.map(_.size.toDouble)),
      "spark.tasks" -> Stats.mean(opJobs.map(_.map(_.tasks).sum.toDouble)),
      "spark.shuffle_bytes" -> Stats.mean(opJobs.map(_.map(_.shuffleBytes).sum.toDouble)),
      "spark.spill_bytes" -> Stats.mean(opJobs.map(_.map(_.spillBytes).sum.toDouble)),
      "spark.task_skew" -> medianOf(skews),
      "spark.driver_gap_ms" -> medianOf(ops.map(t.driverGapMs)),
      "operators.Migration.resolve_ms" -> callMs("operators.Migration.resolve"),
      "operators.Migration.sinks_ms" -> callMs("operators.Migration.sinks"),
      "operators.Stage.write_ms" -> callMs("operators.Stage.table"),
      "operators.Stage.bytes_written" -> stageBytesPerIter,
      "operators.SnapshotLog.merge_ms" -> callMs("operators.SnapshotLog.merge"),
      "operators.SnapshotLog.delete_ms" -> callMs("operators.SnapshotLog.deleteKeys"),
      "operators.SnapshotLog.lookup_ms" -> callMs("operators.SnapshotLog.lookupKeys"),
      "operators.SnapshotLog.read_ms" -> callMs("operators.SnapshotLog.read"),
      "operators.SnapshotLog.cdc_ms" -> callMs("operators.SnapshotLog.cdc"),
      "operators.SnapshotLog.compact_ms" -> callMs("operators.SnapshotLog.compact"),
      "operators.SnapshotLog.vacuum_ms" -> callMs("operators.SnapshotLog.vacuum"),
      "operators.SnapshotLog.jobs_per_commit" -> Stats.mean(commitJobs),
      "sql.update_ms" -> callMs("sql.update"),
      "streaming.feed_ms" -> callMs("streaming.feed"),
      "trace.result_s" -> Stats.median(wl.resultS(ctx, iterS)),
      "trace.op_ms.p50" -> Stats.median(ctx.ops.map(_.ms).toSeq)) ++
      probes(ctx) ++ queries ++ wl.layers(ctx)
    Names.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
  }

  /** Kernel probes: nanoseconds per row of the program's column functions,
    * timed on a warm second pass over inputs cached in memory.
    */
  def probes(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val paths = spark.range(200000).select(concat(lit("/eos/scratch/user/"),
      (col("id") % 26).cast("string"), lit("/u"), (col("id") % 997).cast("string"),
      when(col("id") % 3 === 0, lit("/.sys.v#.f")).otherwise(lit("/f")),
      col("id").cast("string"), lit(".dat")).as("p")).cache()
    val docs = spark.read.parquet(new File(ctx.dataDir, "documents.parquet").getAbsolutePath)
      .select("text").cache()
    val nPaths = paths.count().toDouble
    val nDocs = docs.count().toDouble
    def nsPerRow(df: => DataFrame, rows: Double): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      once()
      Seq(once(), once(), once()).sorted.apply(1) / rows
    }
    val p = col("p")
    val out = Map(
      "functions.path_ns_per_row" -> nsPerRow(paths.select(
        PathFns.pathDirname(p), PathFns.versionsPath(p), PathFns.pathBasename(p),
        PathFns.isVersionsFolder(p), PathFns.pointsToVersion(p),
        PathFns.underPrefix(p, "/eos/scratch/user/")), nPaths),
      "functions.shingle_ns_per_row" -> nsPerRow(docs.select(
        DedupFns.minhashSignature(DedupFns.shingles(col("text")), 64)), nDocs),
      "functions.bpe_ns_per_row" -> nsPerRow(docs.select(TextFns.bpeTokenCount(col("text"))), nDocs))
    paths.unpersist()
    docs.unpersist()
    out
  }

  def print(table: Seq[LayerRow]): Unit = {
    println(f"  ${"kind"}%-5s ${"layer"}%-44s ${"calls"}%6s ${"total_ms"}%11s ${"self_ms"}%11s ${"jobs"}%6s ${"self_share"}%10s")
    table.foreach { r =>
      println(f"  ${r.kind}%-5s ${r.name}%-44s ${r.calls}%6d ${r.totalMs}%11.1f ${r.selfMs}%11.1f ${r.jobs}%6d ${r.share}%10.4f")
    }
  }

  /** Writes the spans, jobs, per-layer table and metrics as one JSON file. */
  def write(f: File, ctx: Ctx, workload: String, seed: Long, table: Seq[LayerRow],
      layers: Seq[(String, String, Double)], e2e: Seq[(String, String, Double)]): Unit = {
    val t = ctx.trace
    f.getParentFile.mkdirs()
    val doc = Map(
      "workload" -> workload, "seed" -> seed,
      "end_to_end_traced" -> e2e.map { case (n, u, v) => Map("name" -> n, "unit" -> u, "value" -> v) },
      "per_layer" -> layers.map { case (n, u, v) => Map("name" -> n, "unit" -> u, "value" -> v) },
      "layer_table" -> table.map(r => Map("kind" -> r.kind, "name" -> r.name, "calls" -> r.calls,
        "total_ms" -> r.totalMs, "self_ms" -> r.selfMs, "jobs" -> r.jobs, "self_share" -> r.share)),
      "spans" -> t.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> t.jobs.map(j => Map("job" -> j.jobId, "span" -> j.span, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks, "shuffle_bytes" -> j.shuffleBytes,
        "spill_bytes" -> j.spillBytes)))
    val w = new PrintWriter(f, "UTF-8")
    try w.println(Json.render(doc)) finally w.close()
  }
}
