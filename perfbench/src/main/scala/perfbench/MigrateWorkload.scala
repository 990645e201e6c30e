package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Migration, SnapshotLog, Stage}

/** The paper's pipeline end to end. Each iteration migrates a fresh copy
  * of the `oc_share` snapshot table: resolve through `Stage`, the sinks
  * and `validateChangeset` (one read operation), then `SnapshotLog.merge`
  * of the change-set (one write operation).
  */
final class MigrateWorkload extends Workload {
  val Shares = 50000L
  val Files = 16

  private var dir: File = _
  private def v0Dir = new File(dir, "oc_share_v0")
  private var nsPath: String = _
  private var sharesPath: String = _
  private var bytesPerRow = 0.0

  /** Per iteration: decision counts and amplification. */
  private val counts = ArrayBuffer.empty[Map[String, Long]]
  private var lastTable: String = _
  private val writeAmps = ArrayBuffer.empty[Double]
  private val spaceAmps = ArrayBuffer.empty[Double]
  private val lookups = ArrayBuffer.empty[Lookups.Probe]
  private val commits = ArrayBuffer.empty[Commits.Commit]

  def setup(ctx: Ctx, d: File): Unit = {
    val spark = ctx.spark
    dir = d
    sharesPath = new File(d, "in/oc_share.parquet").getAbsolutePath
    nsPath = new File(d, "in/eos_namespace.parquet").getAbsolutePath
    Inputs.shares(spark, Shares, ctx.seed).write.parquet(sharesPath)
    Inputs.namespace(spark, Shares, ctx.seed).write.parquet(nsPath)
    SnapshotLog.init(spark, v0Dir.getAbsolutePath, spark.read.parquet(sharesPath), "id", Files)
    val v0 = Disk.files(new File(v0Dir, "data")).values.sum
    bytesPerRow = v0.toDouble / Shares
  }

  /** Two untimed iterations: after one, the first timed plan still ran
    * 15-40% slower than the later ones.
    */
  def warmup(ctx: Ctx): Unit = Seq(-2, -1).foreach(run(ctx, _))

  def iteration(ctx: Ctx, n: Int): Unit = run(ctx, n)

  /** Four iterations take 13-20 s, so at `--seconds 10` a run makes one
    * round whatever the machine's speed: with rounds of three, fast runs
    * made a second round, warmer and faster, and the runs split in two.
    */
  override def round: Int = 4

  private def run(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    val table = new File(dir, s"oc_share_it$n")
    Disk.deleteRecursively(table)
    Disk.copy(v0Dir, table)
    val tableDir = table.getAbsolutePath
    val out = new File(dir, s"out/it$n").getAbsolutePath
    val ns = spark.read.parquet(nsPath)

    val (cs, got) = ctx.op("read", "migrate.plan") {
      val shares = ctx.call("operators.SnapshotLog.read")(SnapshotLog.readLatest(spark, tableDir))
      val resolved = ctx.call("operators.Migration.resolve") {
        ctx.call("operators.Stage.table")(
          Stage.table(Migration.resolvedPipeline(shares, ns, Inputs.createdInode), "resolved"))
      }
      ctx.call("operators.Migration.sinks") {
        val cs = ctx.call("operators.Stage.table")(
          Stage.table(Migration.changeset(resolved), "changeset"))
        val audit = Migration.audit(resolved).groupBy("decision").count().collect()
          .map(r => s"audit.${r.getString(0)}" -> r.getLong(1))
        Migration.auditLine(resolved).select("line").write.text(s"$out/audit")
        Migration.errors(resolved).write.partitionBy("error").parquet(s"$out/errors")
        val dangling = Migration.validateChangeset(cs, shares).count()
        (cs, audit.toMap + ("dangling" -> dangling))
      }
    }
    val before = Disk.files(table)
    val commit = ctx.op("write", "migrate.merge") {
      ctx.call("operators.SnapshotLog.merge")(
        SnapshotLog.merge(spark, tableDir, Migration2Merge(cs), "id"))
    }
    if (n < 0) return

    // sizes from parquet footers, outside the timed region
    val errCounts = Seq(Migration.Decision.ErrorMissing, Migration.Decision.ErrorNoFolder).map(e =>
      s"errors.$e" -> {
        val d = new File(out, s"errors/error=$e")
        if (d.exists()) Stage.rowCount(spark, d.getAbsolutePath) else 0L
      })
    counts += got ++ errCounts + ("changeset" -> cs.count())
    lastTable = tableDir
    val after = Disk.files(table)
    val written = after.filter { case (f, _) => !before.contains(f) }.values.sum
    writeAmps += written / (counts.last("changeset") * bytesPerRow)
    spaceAmps += after.values.sum.toDouble / Commits.liveBytes(spark, tableDir)
    if (ctx.trace.on) {
      commits += Commits.describe(spark, tableDir, commit.version, counts.last("changeset"))
      lookups += Lookups.probe(ctx, tableDir, cs.select("id").limit(10).collect().map(_.getLong(0)).toSeq)
    }
    if (n > 0) Disk.deleteRecursively(new File(dir, s"oc_share_it${n - 1}"))
  }

  /** The change-set as a keyed MERGE: updates carrying the four rewritten
    * columns, every other payload column null (= keep).
    */
  private object Migration2Merge {
    def apply(cs: DataFrame): DataFrame = cs.select(
      lit("update").as("op"), col("id"),
      lit(null).cast("int").as("share_type"), lit(null).cast("string").as("uid_owner"),
      lit(null).cast("string").as("item_type"),
      col("new_item_source").as("item_source"), col("new_item_target").as("item_target"),
      col("new_file_source").as("file_source"), col("new_file_target").as("file_target"),
      lit(null).cast("int").as("permissions"), lit(null).cast("long").as("stime"))
  }

  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val want = Inputs.expectedMigration(Shares, ctx.seed) + ("dangling" -> 0L)
    counts.zipWithIndex.foreach { case (got, i) =>
      want.foreach { case (k, v) =>
        ctx.expect(got.getOrElse(k, 0L) == v, s"iteration $i: $k = ${got.getOrElse(k, 0L)}, expected $v")
      }
    }
    val shares = spark.read.parquet(sharesPath)
    val ns = spark.read.parquet(nsPath)
    val expected = Inputs.contentHash(Migration.applyChangeset(shares,
      Migration.changeset(Migration.resolvedPipeline(shares, ns, Inputs.createdInode))))
    // every iteration migrates the same inputs; the last one's snapshot
    // is compared in full
    val h = Inputs.contentHash(SnapshotLog.readLatest(spark, lastTable))
    ctx.expect(h == expected, s"snapshot hash $h, applyChangeset gives $expected")
    lookups.foreach(p => ctx.expect(p.returned == p.keys.toSet,
      s"lookup of ${p.keys.size} migrated ids returned ${p.returned.size}"))
  }

  def amplification(ctx: Ctx): (Double, Double) =
    (Stats.median(writeAmps.toSeq), Stats.median(spaceAmps.toSeq))

  override def probes(ctx: Ctx): Unit = CurateProbe.run(ctx)

  def layers(ctx: Ctx): Map[String, Double] =
    Commits.metrics(commits.toSeq) ++ Lookups.metrics(lookups.toSeq)
}
