package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One closed-loop client operation as the client saw it. */
final case class OpSample(kind: String, name: String, ms: Double)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: File,
    val seed: Long, val dataDir: File) {
  val ops = ArrayBuffer.empty[OpSample]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0

  /** Times `body` as one operation of `kind` ("read" or "write"). */
  def op[A](kind: String, name: String)(body: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = trace.span("op", name)(body)
    ops += OpSample(kind, name, (System.nanoTime() - t0) / 1e6)
    out
  }

  /** Times a call into one of the program's layers (traced runs only). */
  def call[A](layer: String)(body: => A): A = trace.span("call", layer)(body)

  /** Records a wrong output; the run then reports `correct: false`. */
  def expect(ok: Boolean, what: => String): Unit = if (!ok) failures += what
}

/** A workload: inputs from the seed, a closed loop of operations, and the
  * checks on what they produced.
  */
trait Workload {
  /** Generates inputs and initializes tables under `dir`; called several
    * times, the loop runs on the last call's state.
    */
  def setup(ctx: Ctx, dir: File): Unit
  def warmup(ctx: Ctx): Unit
  /** One iteration of the closed loop. */
  def iteration(ctx: Ctx, n: Int): Unit
  /** A run makes whole rounds of this many iterations, at least one
    * round however short `--seconds`, so every run times the same mix.
    */
  def round: Int = 3
  /** Layer probes that run after the loop in traced runs. */
  def probes(ctx: Ctx): Unit = ()
  /** Seconds from input to complete, committed result, per result; by
    * default each iteration's operation time.
    */
  def resultS(ctx: Ctx, iterS: Seq[Double]): Seq[Double] = iterS
  /** Output checks after the loop; failures go to `ctx.expect`. */
  def check(ctx: Ctx): Unit
  /** `write_amp` and `space_amp`. */
  def amplification(ctx: Ctx): (Double, Double)
  /** Workload-specific per-layer metrics (traced runs). */
  def layers(ctx: Ctx): Map[String, Double]
}

object Main {
  val SetupPasses = 3

  def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val seed = a.getOrElse("seed", sys.error("--seed is required")).toLong
    val seconds = a.getOrElse("seconds", sys.error("--seconds is required")).toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = new File(a.getOrElse("work", sys.error("--work is required")))
    val dataDir = new File(a.getOrElse("data", sys.error("--data is required")))
    val outFile = a.get("out").map(new File(_))
    // two task threads leave the other cores to the JIT compiler, the
    // collector and the driver: the workloads are bound by per-job fixed
    // cost, not by task parallelism, and a JIT that competes with four task
    // threads makes whole runs fast or slow
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config(graft.operators.Stage.StageDirKey, new File(work, "stage").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val ctx = new Ctx(spark, new Trace(traced, spark.sparkContext), work, seed, dataDir)
    val wl: Workload = workload match {
      case "migrate" => new MigrateWorkload
      case "dml" => new DmlWorkload
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = (1 to SetupPasses).map { p =>
      val t0 = System.nanoTime()
      wl.setup(ctx, new File(work, s"setup-$p"))
      (System.nanoTime() - t0) / 1e9
    }
    val tWarm = System.nanoTime()
    wl.warmup(ctx)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    ctx.ops.clear()
    ctx.attempted = 0

    // An iteration's time is the sum of its operations: the checks and
    // bookkeeping between operations are not the system's work.
    val stageDir = new File(work, "stage")
    val stageBytes0 = Disk.bytes(stageDir)
    val iterS = ArrayBuffer.empty[Double]
    val tLoop = System.nanoTime()
    ctx.trace.startTimed()
    ctx.trace.span("run", workload) {
      while (iterS.isEmpty || iterS.size % wl.round != 0 || iterS.sum < seconds) {
        val before = ctx.ops.size
        ctx.trace.span("iteration", s"$workload.${iterS.size}")(wl.iteration(ctx, iterS.size))
        iterS += ctx.ops.drop(before).map(_.ms).sum / 1e3
        if (iterS.size % math.max(1, wl.round / 3) == 0) Heap.sample()
      }
    }
    val stageBytesPerIter = (Disk.bytes(stageDir) - stageBytes0).toDouble / iterS.size
    val tCheck = System.nanoTime()
    wl.check(ctx)
    val (writeAmp, spaceAmp) = wl.amplification(ctx)
    val checkS = (System.nanoTime() - tCheck) / 1e9

    val opMs = ctx.ops.map(_.ms).toSeq
    def kindMs(k: String) = ctx.ops.filter(_.kind == k).map(_.ms).toSeq
    val e2e = Seq(
      ("setup_s", "s", sessionS + Stats.median(setupS) + warmS),
      ("result_s", "s", Stats.median(wl.resultS(ctx, iterS.toSeq))),
      ("op_ms.p50", "ms", Stats.pct(opMs, 50)),
      ("op_ms.p90", "ms", Stats.pct(opMs, 90)),
      ("write_ms.p50", "ms", Stats.median(kindMs("write"))),
      ("read_ms.p50", "ms", Stats.median(kindMs("read"))),
      ("write_amp", "ratio", writeAmp),
      ("space_amp", "ratio", spaceAmp),
      ("heap_peak_mb", "MB", Heap.peakMb))
    val failed = math.min(ctx.failures.size, math.max(ctx.attempted, 1))
    val failRatio = failed.toDouble / math.max(ctx.attempted, 1)

    println(s"workload=$workload seed=$seed traced=$traced cores=$cores " +
      s"iterations=${iterS.size} ops=${ctx.ops.size} " +
      f"session_s=$sessionS%.3f setup_passes_s=${setupS.map(s => f"$s%.3f").mkString(",")} " +
      f"warmup_s=$warmS%.3f loop_wall_s=${(tCheck - tLoop) / 1e9}%.3f check_s=$checkS%.3f")
    e2e.foreach { case (n, u, v) => println(f"  $n%-14s $v%14.4f $u") }
    println(f"  fail_ratio     $failRatio%14.4f ratio  (${ctx.attempted} attempted, $failed failed)")
    ctx.ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      val ms = os.map(_.ms).toSeq
      println(f"  $n%-22s n=${ms.size}%-3d median ${Stats.median(ms)}%9.1f ms  " +
        s"[${ms.map(m => f"$m%.0f").mkString(" ")}]")
    }
    ctx.failures.take(20).foreach(f => println(s"  FAILED: $f"))

    val metrics: Seq[(String, String, Double)] =
      if (!traced) e2e
      else {
        wl.probes(ctx)
        ctx.trace.drain()
        val lay = TraceReport.layers(ctx, wl, iterS.toSeq, stageBytesPerIter)
        val table = ctx.trace.layerTable()
        TraceReport.print(table)
        outFile.foreach(f => TraceReport.write(f, ctx, workload, seed, table, lay, e2e))
        lay
      }
    spark.stop()
    val m = metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }
    val correct = ctx.failures.isEmpty
    println(Json.render(Map(
      "correct" -> correct,
      "attempted" -> math.max(ctx.attempted, 1),
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(m: _*))))
    System.exit(if (correct) 0 else 1)
  }
}
