package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.functions._
import graft.operators.Migration
import graft.operators.Migration.Decision

/** The benchmark's own checks: seeded inputs, routing coverage, span
  * arithmetic and order statistics. Usage: `SelfTest` (via
  * `perfbench/selftest.py`); exits non-zero on the first failed check.
  */
object SelfTest {
  private val passed = ArrayBuffer.empty[String]

  private def check(what: String)(ok: => Boolean): Unit = {
    if (!ok) { println(s"selftest FAILED: $what"); sys.exit(1) }
    passed += what
  }

  def main(args: Array[String]): Unit = {
    // span arithmetic first: it needs no Spark
    check("self time without children is the wall time")(
      Intervals.selfTime(0, 10, Nil) == 10.0)
    check("overlapping children count once")(
      Intervals.selfTime(0, 10, Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0))) == 5.0)
    check("children are clipped to the span")(
      Intervals.selfTime(0, 10, Seq((-5.0, 2.0), (9.0, 20.0))) == 7.0)
    check("a child covering the span leaves no self time")(
      Intervals.selfTime(2, 4, Seq((0.0, 10.0))) == 0.0)
    check("the median of a symmetric sample is its centre")(
      math.abs(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) - 2.5) < 1e-9)
    check("every percentile of a constant sample is the constant")(
      math.abs(Stats.pct(Seq(5.0, 5.0, 5.0), 90) - 5.0) < 1e-9)
    check("a single sample is every percentile")(Stats.pct(Seq(3.0), 10) == 3.0)
    // 10.3496 is the Harrell-Davis p90 of 1..11, from an independent
    // implementation of the estimator
    check("p90 of 1..11 is the Harrell-Davis value")(
      math.abs(Stats.pct((1 to 11).map(_.toDouble), 90) - 10.3496) < 1e-3)

    val spark = graft.GraftSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val trace = new Trace(true, spark.sparkContext)
    trace.spans += Span(0, -1, "op", "parent", 0.0, 100.0)
    trace.spans += Span(1, 0, "call", "a", 10.0, 40.0)
    trace.spans += Span(2, 0, "call", "b", 30.0, 60.0)
    check("a span's self time excludes its child spans")(trace.selfMs(trace.spans(0)) == 50.0)
    check("a leaf span's self time is its wall time")(trace.selfMs(trace.spans(1)) == 30.0)

    val n = 2000L
    for ((name, gen) <- Seq[(String, Long => org.apache.spark.sql.DataFrame)](
        "shares" -> (s => Inputs.shares(spark, n, s)),
        "namespace" -> (s => Inputs.namespace(spark, n, s)),
        "dml table" -> (s => Inputs.dmlTable(spark, n, s)))) {
      check(s"the same seed gives the same $name")(
        Inputs.contentHash(gen(7)) == Inputs.contentHash(gen(7)))
      check(s"another seed gives other $name")(
        Inputs.contentHash(gen(7)) != Inputs.contentHash(gen(8)))
    }

    for (seed <- Seq(1L, 42L)) {
      val shares = Inputs.shares(spark, n, seed)
      val ns = Inputs.namespace(spark, n, seed)
      val resolved = Migration.resolvedPipeline(shares, ns, Inputs.createdInode)
      val audit = Migration.audit(resolved).groupBy("decision").count().collect()
        .map(r => s"audit.${r.getString(0)}" -> r.getLong(1)).toMap
      val errors = Migration.errors(resolved).groupBy("error").count().collect()
        .map(r => s"errors.${r.getString(0)}" -> r.getLong(1)).toMap
      val got = audit ++ errors + ("changeset" -> Migration.changeset(resolved).count())
      val labels = (audit.keys ++ errors.keys).map(_.split('.')(1)).toSet
      check(s"seed $seed: all six routing decisions occur")(labels == Set(Decision.AlreadyMigrated,
        Decision.NotUnderHome, Decision.Version, Decision.Regular, Decision.ErrorMissing,
        Decision.ErrorNoFolder))
      check(s"seed $seed: decision counts match the closed form")(
        got == Inputs.expectedMigration(n, seed))
    }
    check("closed-form counts cover every row")(Inputs.Shapes.map(
      Inputs.shapeCount(12345, 3, _)).sum == 12345)

    spark.stop()
    println(s"selftest ok: ${passed.size} checks")
    passed.foreach(p => println(s"  ok  $p"))
  }
}
