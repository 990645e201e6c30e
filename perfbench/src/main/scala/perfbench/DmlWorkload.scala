package perfbench

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.{Merge, SnapshotCommit, SnapshotLog}
import graft.streaming.SnapshotStreams

/** One client issuing a seed-driven closed loop of small operations
  * against a keyed snapshot table, in the fixed order of [[Cycle]]: about
  * half writes, half reads, ending with OPTIMIZE and VACUUM. An iteration
  * is one entry of the cycle; a run makes whole cycles.
  */
final class DmlWorkload extends Workload {
  import DmlWorkload._

  private var tableDir: String = _
  private var rng: SplittableRandom = _
  private var live: java.util.BitSet = _
  private var nextId = 0L
  private val recent = mutable.ArrayDeque.empty[Long]
  /** Live row count at each committed version. */
  private val liveAt = mutable.HashMap.empty[Long, Long]
  private var lastFed = -1L
  private var feedQueryDir: String = _
  private val feedBatches = ArrayBuffer.empty[(Long, Long, Long, Long)] // from, to, rows, sum(sign)
  private var timedBatches = 0

  /** The functional history, for the replay check. */
  private val changes = ArrayBuffer.empty[Change]
  private var rowsChanged = 0L
  private var bytesWritten = 0L
  private val seen = mutable.HashSet.empty[String]
  private var bytesPerRow = 0.0
  private var timed = false
  private val lookups = ArrayBuffer.empty[Lookups.Probe]
  private val commits = ArrayBuffer.empty[Commits.Commit]
  private val planMs = ArrayBuffer.empty[Double]
  private val behind = ArrayBuffer.empty[Double]

  def setup(ctx: Ctx, d: File): Unit = {
    val spark = ctx.spark
    val catalog = new File(d, "catalog")
    tableDir = new File(catalog, "dml").getAbsolutePath
    spark.conf.set("spark.graft.catalog.location", catalog.getAbsolutePath)
    val input = new File(d, "in/dml.parquet").getAbsolutePath
    Inputs.dmlTable(spark, Rows, ctx.seed).write.parquet(input)
    val c = SnapshotLog.init(spark, tableDir, spark.read.parquet(input), "id", Files)
    rng = new SplittableRandom(ctx.seed)
    live = new java.util.BitSet()
    live.set(0, Rows.toInt)
    nextId = Rows
    recent.clear(); liveAt.clear(); changes.clear(); feedBatches.clear()
    liveAt(c.version) = Rows
    lastFed = -1L
    feedQueryDir = new File(d, "feed-checkpoint").getAbsolutePath
    rowsChanged = 0; bytesWritten = 0; seen.clear()
    seen ++= Disk.files(new File(tableDir)).keys
    bytesPerRow = Disk.files(new File(tableDir, "data")).values.sum.toDouble / Rows
  }

  /** Every kind of operation once or twice, ending with maintenance, so
    * the loop starts on a compacted table and no operation runs cold in
    * it; the feed bootstraps the change stream from the full table.
    */
  def warmup(ctx: Ctx): Unit = {
    Seq("upsert", "lookup", "upsert", "travel", "delete", "feed", "upsert", "lookup",
      "sql_update", "lookup", "sql_merge", "maintain").foreach(op(ctx, _))
    timed = true
    timedBatches = feedBatches.size
    rowsChanged = 0; bytesWritten = 0
    lookups.clear(); commits.clear(); planMs.clear(); behind.clear()
  }

  /** The `n`-th entry of the repeating [[Cycle]]. */
  def iteration(ctx: Ctx, n: Int): Unit = op(ctx, Cycle(n % Cycle.size))

  override def round: Int = Cycle.size

  /** The dml result is a committed change-set: the upserts' latencies. */
  override def resultS(ctx: Ctx, iterS: Seq[Double]): Seq[Double] =
    ctx.ops.filter(_.name == "dml.upsert").map(_.ms / 1e3).toSeq

  // -------------------------------------------------------------------
  // key choice
  // -------------------------------------------------------------------

  /** `n` distinct live keys from one window of [[Window]] consecutive ids
    * in the middle of one file's key range: a change-set touches a narrow
    * key range, as a day's residue does, and rewrites one file. The file
    * holds a recently written key half of the time.
    */
  private def liveKeys(n: Int): Seq[Long] = {
    val file =
      if (recent.nonEmpty && rng.nextInt(2) == 0)
        math.min(recent(rng.nextInt(recent.size)) / FileRows, Files - 1L)
      else rng.nextLong(Files)
    val lo = file * FileRows + (FileRows - Window) / 2
    val out = mutable.LinkedHashSet.empty[Long]
    var tries = 0
    while (out.size < n) {
      val k = if (tries < 50 * n) lo + rng.nextLong(Window) else rng.nextLong(nextId)
      if (k < nextId && live.get(k.toInt)) out += k
      tries += 1
    }
    out.toSeq
  }

  private def wrote(keys: Iterable[Long]): Unit = {
    keys.foreach { k => recent += k; if (recent.size > RecentWindow) recent.removeHead() }
  }

  // -------------------------------------------------------------------
  // operations
  // -------------------------------------------------------------------

  private def op(ctx: Ctx, name: String): Unit = name match {
    case "upsert" => upsert(ctx)
    case "delete" => delete(ctx)
    case "sql_update" => sqlUpdate(ctx)
    case "sql_merge" => sqlMerge(ctx)
    case "lookup" => lookup(ctx)
    case "travel" => travel(ctx)
    case "feed" => feed(ctx)
    case "maintain" => maintain(ctx)
  }

  private def committed(ctx: Ctx, c: SnapshotCommit, changed: Long): Unit = {
    liveAt(c.version) = live.cardinality().toLong
    val fresh = Disk.files(new File(tableDir)).filter { case (f, _) => seen.add(f) }
    if (timed) {
      rowsChanged += changed
      bytesWritten += fresh.values.sum
      if (ctx.trace.on) commits += Commits.describe(ctx.spark, tableDir, c.version, changed)
    }
  }

  /** SQL DML commits through the catalog and returns no report. */
  private def latestCommit(ctx: Ctx): SnapshotCommit =
    SnapshotCommit(SnapshotLog.latestVersion(ctx.spark, tableDir),
      graft.operators.CowMergeReport(0, 0, 0, 0))

  private def upsert(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val upd = liveKeys(UpsertKeys * 9 / 10)
    val ins = (0 until UpsertKeys - upd.size).map(_ => { nextId += 1; nextId - 1 })
    val rows = upd.map(k => Row("update", k, null, null, rng.nextLong(1000000L), rng.nextLong(2000000000L))) ++
      ins.map(k => Row("insert", k, s"u${rng.nextInt(5000)}", s"/eos/scratch/user/d/n$k.dat",
        rng.nextLong(1000000L), rng.nextLong(2000000000L)))
    val cs = spark.createDataFrame(rows.asJava, ChangeSchema)
    val c = ctx.op("write", "dml.upsert") {
      ctx.call("operators.SnapshotLog.merge")(SnapshotLog.merge(spark, tableDir, cs, "id"))
    }
    ins.foreach(k => live.set(k.toInt))
    wrote(upd ++ ins)
    changes += Upsert(rows)
    committed(ctx, c, rows.size)
  }

  private def delete(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val keys = liveKeys(DeleteKeys)
    val c = ctx.op("write", "dml.delete") {
      ctx.call("operators.SnapshotLog.deleteKeys")(
        SnapshotLog.deleteKeys(spark, tableDir, keys.toDF("id"), "id"))
    }
    keys.foreach(k => live.clear(k.toInt))
    changes += Delete(keys)
    committed(ctx, c, keys.size)
  }

  private def sql(ctx: Ctx, text: String): Unit = {
    val df = ctx.call("sql.update")(ctx.spark.sql(text))
    if (timed) planMs += Seq("parsing", "analysis", "optimization", "planning")
      .flatMap(df.queryExecution.tracker.phases.get).map(_.durationMs.toDouble).sum
  }

  private def sqlUpdate(ctx: Ctx): Unit = {
    val keys = liveKeys(SqlKeys)
    val delta = 1 + rng.nextInt(100)
    val mtime = rng.nextLong(2000000000L)
    ctx.op("write", "dml.sql_update") {
      sql(ctx, s"UPDATE graft.dml SET size = size + $delta, mtime = $mtime " +
        s"WHERE id IN (${keys.mkString(",")})")
    }
    wrote(keys)
    changes += SqlUpdate(keys, delta, mtime)
    committed(ctx, latestCommit(ctx), keys.size)
  }

  private def sqlMerge(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val upd = liveKeys(SqlKeys * 4 / 5)
    val ins = (0 until SqlKeys - upd.size).map(_ => { nextId += 1; nextId - 1 })
    val rows = (upd ++ ins).map(k => Row(k, rng.nextLong(1000000L), rng.nextLong(2000000000L)))
    spark.createDataFrame(rows.asJava, SourceSchema).createOrReplaceTempView("perfbench_src")
    ctx.op("write", "dml.sql_merge") {
      sql(ctx, """MERGE INTO graft.dml t USING perfbench_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET size = s.size, mtime = s.mtime
        |WHEN NOT MATCHED THEN INSERT (id, owner, path, size, mtime)
        |  VALUES (s.id, 'sql', concat('/sql/', CAST(s.id AS STRING)), s.size, s.mtime)
        |""".stripMargin)
    }
    ins.foreach(k => live.set(k.toInt))
    wrote(upd ++ ins)
    changes += SqlMerge(rows)
    committed(ctx, latestCommit(ctx), rows.size)
  }

  private def lookup(ctx: Ctx): Unit = {
    val keys = liveKeys(LookupKeys - 3) ++
      Seq(nextId + 1 + rng.nextInt(1000), rng.nextLong(nextId), rng.nextLong(nextId))
    val want = keys.filter(k => k < nextId && live.get(k.toInt)).toSet
    val (df, rows) = ctx.op("read", "dml.lookup")(Lookups.lookup(ctx, tableDir, keys))
    val p = Lookups.measure(keys, df, rows)
    ctx.expect(p.returned == want, s"lookup returned ${p.returned.toSeq.sorted}, live ${want.toSeq.sorted}")
    if (timed) lookups += p
  }

  private def travel(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val vs = liveAt.keys.toSeq.sorted.takeRight(TravelDepth).dropRight(1)
    if (vs.isEmpty) return
    val v = vs(rng.nextInt(vs.size))
    val r = ctx.op("read", "dml.travel") {
      ctx.call("operators.SnapshotLog.read")(
        SnapshotLog.read(spark, tableDir, v).agg(count(lit(1)), sum("size")).head())
    }
    ctx.expect(r.getLong(0) == liveAt(v), s"version $v has ${r.getLong(0)} rows, expected ${liveAt(v)}")
  }

  private def feed(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val latest = SnapshotLog.latestVersion(spark, tableDir)
    if (timed) behind += (latest - lastFed).toDouble
    val before = feedBatches.size
    ctx.op("read", "dml.feed") {
      ctx.call("streaming.feed") {
        SnapshotStreams.readChanges(spark, tableDir, "id") { (df, from, to) =>
          val r = ctx.call("operators.SnapshotLog.cdc")(
            df.agg(count(lit(1)), coalesce(sum("__sign"), lit(0L))).head())
          feedBatches += ((from, to, r.getLong(0), r.getLong(1)))
        }.option("checkpointLocation", feedQueryDir)
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
    }
    feedBatches.drop(before).foreach { case (from, to, _, sign) =>
      // the stream's first batch bootstraps from the full table
      val base = if (lastFed < 0) 0L else liveAt(from)
      ctx.expect(sign == liveAt(to) - base,
        s"feed $from..$to: net sign $sign, expected ${liveAt(to) - base}")
      lastFed = to
    }
  }

  private def maintain(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val c = ctx.op("write", "dml.optimize") {
      ctx.call("operators.SnapshotLog.compact")(SnapshotLog.compact(spark, tableDir, Files))
    }
    committed(ctx, c, 0)
    val retainFrom = math.min(c.version - TravelDepth, lastFed)
    if (retainFrom > 0) {
      ctx.op("write", "dml.vacuum") {
        ctx.call("operators.SnapshotLog.vacuum")(SnapshotLog.vacuum(spark, tableDir, retainFrom, 0L))
      }
      liveAt.keys.filter(_ < retainFrom).toSeq.foreach(liveAt.remove)
    }
  }

  // -------------------------------------------------------------------
  // checks
  // -------------------------------------------------------------------

  /** Replays every change through `Merge.apply` over the rows it touched,
    * and compares the final snapshot with the initial table patched by
    * that replay (content hashes add over disjoint row sets).
    */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val touched = changes.flatMap(_.keys).distinct.toSeq
    val initial = Inputs.dmlTable(spark, Rows, ctx.seed)
    val touchedDf = touched.toDF("id")
    var state: DataFrame = initial.join(touchedDf, "id")
      .select(initial.columns.map(col).toSeq: _*)
    def cut(df: DataFrame): DataFrame = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    state = cut(state)
    // each step reads the state twice, so the plan would double per
    // change without the cut
    changes.foreach(c => state = cut(Merge.apply(state, c.changeset(spark, state), "id")))
    val (n0, h0) = Inputs.contentHash(initial)
    val (nt, ht) = Inputs.contentHash(initial.join(touchedDf, "id").select(initial.columns.map(col).toSeq: _*))
    val (ns, hs) = Inputs.contentHash(state)
    val expected = (n0 - nt + ns, h0 - ht + hs)
    val got = Inputs.contentHash(SnapshotLog.readLatest(spark, tableDir).select(initial.columns.map(col).toSeq: _*))
    ctx.expect(got == expected, s"final snapshot $got, Merge.apply replay gives $expected")
    ctx.expect(got._1 == live.cardinality(), s"final snapshot has ${got._1} rows, ${live.cardinality()} live")
  }

  def amplification(ctx: Ctx): (Double, Double) = (
    bytesWritten / (math.max(rowsChanged, 1L) * bytesPerRow),
    Disk.bytes(new File(tableDir)).toDouble / Commits.liveBytes(ctx.spark, tableDir))

  def layers(ctx: Ctx): Map[String, Double] =
    Commits.metrics(commits.toSeq) ++ Lookups.metrics(lookups.toSeq) ++ Map(
      "sql.plan_ms" -> (if (planMs.isEmpty) 0.0 else Stats.median(planMs.toSeq)),
      "streaming.rows_per_batch" -> {
        val bs = feedBatches.drop(timedBatches).toSeq
        if (bs.isEmpty) 0.0 else bs.map(_._3).sum.toDouble / bs.size
      },
      "streaming.versions_behind" -> Stats.mean(behind.toSeq))
}

object DmlWorkload {
  val Rows = 100000L
  val Files = 16
  val UpsertKeys = 200
  val DeleteKeys = 50
  val SqlKeys = 50
  val LookupKeys = 10
  val FileRows: Long = Rows / Files
  /** Width of the key range one change-set draws from. */
  val Window: Long = FileRows / 6
  /** Versions kept readable for time travel. */
  val TravelDepth = 8
  val RecentWindow = 2000

  /** 26 operations: 14 writes (9 upserts, a delete, an UPDATE, a MERGE
    * INTO, OPTIMIZE and VACUUM) and 12 reads (8 lookups, 2 travels, 2
    * feeds). Each median sits among many operations of one kind: the
    * median of reads among the lookups (two travels below them, two feeds
    * above), the medians of writes and of upserts among the upserts, p90
    * of all operations among the six slowest (feeds, MERGE INTO, OPTIMIZE,
    * UPDATE, the upsert after the delete). The delete comes late, so one
    * upsert and one lookup read its delete vector before OPTIMIZE, and the
    * other upserts see one kind of table state. The last feed runs just
    * before maintenance, so VACUUM keeps only what time travel needs.
    */
  val Cycle: Seq[String] = Seq("upsert", "lookup", "upsert", "travel", "upsert", "lookup",
    "upsert", "lookup", "sql_update", "lookup", "upsert", "feed", "upsert", "lookup", "upsert",
    "travel", "lookup", "sql_merge", "upsert", "lookup", "delete", "lookup", "upsert", "feed",
    "maintain")

  val ChangeSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("id", LongType), StructField("owner", StringType),
    StructField("path", StringType), StructField("size", LongType), StructField("mtime", LongType)))
  val SourceSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("size", LongType), StructField("mtime", LongType)))

  /** A committed change, as a `Merge.apply` change-set over the replay state. */
  sealed trait Change {
    def keys: Seq[Long]
    def changeset(spark: org.apache.spark.sql.SparkSession, state: DataFrame): DataFrame
  }

  final case class Upsert(rows: Seq[Row]) extends Change {
    def keys: Seq[Long] = rows.map(_.getLong(1))
    def changeset(spark: org.apache.spark.sql.SparkSession, state: DataFrame): DataFrame =
      spark.createDataFrame(rows.asJava, ChangeSchema)
  }

  final case class Delete(keys: Seq[Long]) extends Change {
    def changeset(spark: org.apache.spark.sql.SparkSession, state: DataFrame): DataFrame =
      spark.createDataFrame(keys.map(k => Row("delete", k, null, null, null, null)).asJava, ChangeSchema)
  }

  /** `UPDATE ... SET size = size + delta, mtime = m WHERE id IN keys`. */
  final case class SqlUpdate(keys: Seq[Long], delta: Int, mtime: Long) extends Change {
    def changeset(spark: org.apache.spark.sql.SparkSession, state: DataFrame): DataFrame =
      state.where(col("id").isin(keys: _*)).select(lit("update").as("op"), col("id"),
        lit(null).cast("string").as("owner"), lit(null).cast("string").as("path"),
        (col("size") + delta).as("size"), lit(mtime).as("mtime"))
  }

  /** `MERGE INTO`: matched rows take the source's size and mtime, the
    * rest are inserted with the INSERT clause's values.
    */
  final case class SqlMerge(rows: Seq[Row]) extends Change {
    def keys: Seq[Long] = rows.map(_.getLong(0))
    def changeset(spark: org.apache.spark.sql.SparkSession, state: DataFrame): DataFrame = {
      val src = spark.createDataFrame(rows.asJava, SourceSchema)
      src.join(state.select(col("id"), lit(true).as("hit")), Seq("id"), "left").select(
        when(col("hit"), lit("update")).otherwise(lit("insert")).as("op"), col("id"),
        when(col("hit"), lit(null).cast("string")).otherwise(lit("sql")).as("owner"),
        when(col("hit"), lit(null).cast("string"))
          .otherwise(concat(lit("/sql/"), col("id").cast("string"))).as("path"),
        col("size"), col("mtime"))
    }
  }
}
