package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.commons.math3.special.Beta

/** Order statistics over a run's samples. */
object Stats {

  /** Harrell-Davis estimate of the `p`-th percentile (0 < p < 100): a mean
    * of all order statistics, weighted by the Beta((n+1)q, (n+1)(1-q))
    * mass each one's rank interval holds. A run has tens of operations, so
    * a percentile taken from the one or two samples next to it moves with
    * whichever operation happens to sit there; this estimate draws on the
    * neighbouring ranks too and varies less from run to run.
    */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val s = xs.sorted
    val n = s.size
    val q = p / 100.0
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    val cdf = (0 to n).map(i => if (i == n) 1.0 else Beta.regularizedBeta(i.toDouble / n, a, b))
    s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Sizes of directory trees on the local file system. */
object Disk {

  /** Regular files under `dir` (recursive): path relative to `dir` -> bytes. */
  def files(dir: File): Map[String, Long] = {
    def walk(f: File, rel: String): Seq[(String, Long)] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(c =>
          walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else Seq(rel -> f.length())
    if (dir.exists()) walk(dir, "").toMap else Map.empty
  }

  def bytes(dir: File): Long = files(dir).values.sum

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Copies the tree `from` to `to`. */
  def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(c => copy(c, new File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
}

/** Heap used after GC: the collection-usage peak over the heap pools. */
object Heap {

  /** Heap used right after the last collection of each heap pool, summed. */
  def afterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed.toDouble).sum / (1 << 20)

  private var peak = 0.0

  /** Forces a full collection, outside the timed region, so the after-GC
    * figure is the live heap at this point, and keeps the running peak.
    */
  def sample(): Unit = {
    // the second collection frees what Spark's cleaner released after the
    // first (broadcast and shuffle blocks of finished jobs)
    System.gc()
    Thread.sleep(50)
    System.gc()
    peak = math.max(peak, afterGcMb)
  }

  def peakMb: Double = peak
}

/** Minimal JSON rendering for the result line and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(render)
    case other => str(other.toString)
  }
}
