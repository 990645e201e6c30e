package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import graft.operators.Migration.Decision

/** Seed-driven inputs. The same seed gives the same rows; the program
  * only ever sees the generated tables.
  */
object Inputs {

  // ---------------------------------------------------------------------
  // migrate: an `oc_share` table and its EOS namespace snapshot
  // ---------------------------------------------------------------------

  /** Row `i` falls in slot `(19 i + offset(seed)) mod 100`; 19 is coprime
    * with 100, so every block of 100 consecutive rows covers each slot
    * once. A slot range fixes the row's shape, hence its routing outcome.
    */
  final case class Shape(name: String, lo: Int, hi: Int)
  val Shapes: Seq[Shape] = Seq(
    Shape("FILTERED_SHARE_TYPE", 0, 10),       // share_type <> 3
    Shape("FILTERED_FOLDER", 10, 15),          // item_type = 'folder'
    Shape("NULL_FILE_SOURCE", 15, 18),         // -> ERROR_MISSING_META
    Shape("INODE_NOT_IN_NAMESPACE", 18, 21),   // -> ERROR_MISSING_META
    Shape(Decision.AlreadyMigrated, 21, 27),
    Shape(Decision.NotUnderHome, 27, 33),
    Shape("VERSION_WITH_FOLDER", 33, 43),      // -> VERSION
    Shape("VERSION_FOLDER_GONE", 43, 46),      // -> VERSION + ERROR_MISSING_VERSIONS_FOLDER
    Shape("REGULAR_WITH_FOLDER", 46, 73),      // -> REGULAR
    Shape("REGULAR_CREATE_FOLDER", 73, 100))   // -> REGULAR, created inode

  def offset(seed: Long): Int = java.lang.Math.floorMod(seed * 37 + 11, 100L).toInt

  def slotOf(i: Long, seed: Long): Int = ((19 * (i % 100) + offset(seed)) % 100).toInt

  /** Rows of shape `s` among `n` generated shares, by arithmetic alone. */
  def shapeCount(n: Long, seed: Long, s: Shape): Long = {
    val full = n / 100
    val rest = (0L until n % 100).count { i => val k = slotOf(i, seed); k >= s.lo && k < s.hi }
    full * (s.hi - s.lo) + rest
  }

  private def count(n: Long, seed: Long, names: String*): Long =
    Shapes.filter(s => names.contains(s.name)).map(shapeCount(n, seed, _)).sum

  /** Expected audit decision counts, error counts and change-set size. */
  def expectedMigration(n: Long, seed: Long): Map[String, Long] = Map(
    s"audit.${Decision.ErrorMissing}" ->
      count(n, seed, "NULL_FILE_SOURCE", "INODE_NOT_IN_NAMESPACE"),
    s"audit.${Decision.AlreadyMigrated}" -> count(n, seed, Decision.AlreadyMigrated),
    s"audit.${Decision.NotUnderHome}" -> count(n, seed, Decision.NotUnderHome),
    s"audit.${Decision.Version}" -> count(n, seed, "VERSION_WITH_FOLDER", "VERSION_FOLDER_GONE"),
    s"audit.${Decision.Regular}" -> count(n, seed, "REGULAR_WITH_FOLDER", "REGULAR_CREATE_FOLDER"),
    s"errors.${Decision.ErrorMissing}" ->
      count(n, seed, "NULL_FILE_SOURCE", "INODE_NOT_IN_NAMESPACE"),
    s"errors.${Decision.ErrorNoFolder}" -> count(n, seed, "VERSION_FOLDER_GONE"),
    "changeset" -> count(n, seed, "VERSION_WITH_FOLDER", "REGULAR_WITH_FOLDER",
      "REGULAR_CREATE_FOLDER"))

  private def slotCol(seed: Long): Column =
    pmod(col("i") % 100 * 19 + offset(seed), lit(100))

  private def in(slot: Column, names: String*): Column =
    Shapes.filter(s => names.contains(s.name))
      .map(s => slot >= s.lo && slot < s.hi).reduce(_ || _)

  /** 32-bit seeded hash of the row index, for names and sizes. */
  private def h(seed: Long, salt: Int): Column =
    pmod(xxhash64(col("i"), lit(seed), lit(salt)), lit(1L << 31))

  private def base(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val slot = slotCol(seed)
    spark.range(n).toDF("i")
      .withColumn("slot", slot)
      .withColumn("user", concat(lit("u"), (h(seed, 1) % 5000).cast("string")))
      .withColumn("home", concat(lit("/eos/scratch/user/"),
        substring(col("user"), 2, 1), lit("/"), col("user")))
      // one name in five carries a space, as EOS paths can
      .withColumn("fname", concat(lit("f"), col("i").cast("string"),
        when(h(seed, 2) % 5 === 0, lit(" copy")).otherwise(lit("")), lit(".dat")))
      .withColumn("ino", col("i") * 3 + 10000000L)
  }

  /** The `oc_share` table (FIXTURES.md A1 columns the migration touches,
    * plus `permissions` and `stime` as untouched payload).
    */
  def shares(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val slot = col("slot")
    base(spark, n, seed).select(
      (col("i") + 1).as("id"),
      when(in(slot, "FILTERED_SHARE_TYPE"), (h(seed, 3) % 3).cast("int"))
        .otherwise(lit(3)).as("share_type"),
      col("user").as("uid_owner"),
      when(in(slot, "FILTERED_FOLDER"), lit("folder")).otherwise(lit("file")).as("item_type"),
      col("ino").cast("string").as("item_source"),
      concat(lit("/old/"), (col("i") + 1).cast("string")).as("item_target"),
      when(in(slot, "NULL_FILE_SOURCE"), lit(null).cast("long"))
        .otherwise(col("ino")).as("file_source"),
      concat(lit("/"), col("fname")).as("file_target"),
      (h(seed, 4) % 32).cast("int").as("permissions"),
      (h(seed, 5) % 100000000L + 1500000000L).as("stime"))
  }

  /** The EOS namespace snapshot (FIXTURES.md A2): one entry per share's
    * file (unless its inode is missing), plus the versions folders that
    * exist.
    */
  def namespace(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val slot = col("slot")
    val vdir = concat(col("home"), lit("/.sys.v#."), col("fname"))
    val path =
      when(in(slot, Decision.AlreadyMigrated), vdir)
        .when(in(slot, Decision.NotUnderHome),
          concat(lit("/eos/project/"), col("user"), lit("/"), col("fname")))
        .when(in(slot, "VERSION_WITH_FOLDER", "VERSION_FOLDER_GONE"),
          concat(vdir, lit("/v"), (col("i") % 3).cast("string")))
        .otherwise(concat(col("home"), lit("/"), col("fname")))
    val b = base(spark, n, seed)
    def entry(df: DataFrame, ino: Column, file: Column): DataFrame =
      df.select(ino.as("ino"), file.as("file"), col("user").as("uid"),
        lit("2766").as("gid"), (h(seed, 6) % 1000000L).as("size"))
    val files = entry(b.where(!in(slot, "INODE_NOT_IN_NAMESPACE")), col("ino"), path)
    val folders = entry(b.where(in(slot, "VERSION_WITH_FOLDER", "REGULAR_WITH_FOLDER")),
      col("ino") + 1, vdir)
    files.unionByName(folders)
  }

  /** Stand-in inode for a versions folder the migration creates. */
  val createdInode: Column = lit(graft.operators.SyntheticShares.CreatedInodeOffset) + col("id")

  // ---------------------------------------------------------------------
  // dml: a keyed snapshot table
  // ---------------------------------------------------------------------

  /** `n` rows keyed by `id` in `[0, n)`. */
  def dmlTable(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n).toDF("i").select(
      col("i").as("id"),
      concat(lit("u"), (h(seed, 11) % 5000).cast("string")).as("owner"),
      concat(lit("/eos/scratch/user/d/f"), col("i").cast("string"), lit(".dat")).as("path"),
      (h(seed, 12) % 1000000L).as("size"),
      (h(seed, 13) % 100000000L + 1500000000L).as("mtime"))

  // ---------------------------------------------------------------------
  // curate: the recorded corpus, rows permuted by the seed
  // ---------------------------------------------------------------------

  /** Writes the `documents` table from `srcDir` to `outDir` in a
    * seed-driven row order (one file, so the order is the file's).
    */
  def permuteCorpus(spark: SparkSession, srcDir: String, outDir: String, seed: Long): Unit =
    spark.read.parquet(s"$srcDir/documents.parquet")
      .orderBy(xxhash64(col("doc_id"), lit(seed)))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

  /** Order-independent content hash of a frame: row count and the sum of
    * per-row 64-bit hashes over the columns in name order.
    */
  def contentHash(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(functions.count(lit(1)), sum("h")).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
