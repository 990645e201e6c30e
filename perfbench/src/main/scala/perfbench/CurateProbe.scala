package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.operators.Stage

/** The `queries` layer, probed in traced runs: the curation queries of
  * [[CurateProbe.Queries]] through `SparkEntry.queries`, over the recorded
  * corpus with its rows permuted by the seed. One cold pass, then
  * [[CurateProbe.Passes]] timed passes, `Stage.resetShared()` before each;
  * every result is checked against the hash recorded from the unpermuted
  * corpus.
  */
object CurateProbe {
  val Queries: Seq[String] = Seq("d06_ngram_jaccard", "d08_dedup_clusters", "p01_curation_pipeline")
  val Passes = 2
  val ExpectedFile = "curate_expected.tsv"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val inDir = new File(ctx.work, "curate/in").getAbsolutePath
    Inputs.permuteCorpus(spark, ctx.dataDir.getAbsolutePath, inDir, ctx.seed)
    val want = expected(ctx.dataDir)
    (0 to Passes).foreach { pass =>
      Stage.resetShared()
      Queries.foreach { q =>
        // building a query's frame already runs work (memoized stage
        // writes), so the span starts before the query function is called
        def rows() = {
          val df = SparkEntry.queries(q)(spark, inDir)
          (df.collect(), df.schema)
        }
        val (got, schema) = if (pass == 0) rows() else ctx.call(s"queries.$q")(rows())
        val h = Inputs.contentHash(spark.createDataFrame(got.toSeq.asJava, schema))
        ctx.expect(want.get(q).contains(h), s"$q hash $h, recorded ${want.get(q)}")
      }
    }
  }

  /** query -> (rows, hash) recorded from the unpermuted corpus. */
  def expected(dataDir: File): Map[String, (Long, BigDecimal)] = {
    val src = scala.io.Source.fromFile(new File(dataDir, ExpectedFile), "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).collect {
      case Array(q, n, h) => q -> (n.toLong, BigDecimal(h))
    }.toMap
    finally src.close()
  }
}
