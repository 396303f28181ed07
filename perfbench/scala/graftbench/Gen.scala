package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's input generator. It writes every input with plain Spark
  * expressions that are pure functions of (seed, row), never through the
  * program's own DataGen or ParquetWrite, so a change to the program cannot
  * change what it is measured on.
  */
object Gen {

  /** The reference bench's 8 region values (BASELINE.md dataset schema). */
  val Regions: Seq[String] =
    Seq("africa", "america", "antarctica", "asia", "europe", "mideast",
      "oceania", "pacific")

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform in [0, 1). */
  private def unif(seed: Long, salt: Int, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(1L << 31)).cast("double") / (1L << 31).toDouble

  /** Standard normal, Irwin-Hall of 4 uniforms rescaled to unit variance. */
  private def gauss(seed: Long, salt: Int, cs: Column*): Column =
    ((0 until 4).map(k => unif(seed, salt * 8 + k, cs: _*)).reduce(_ + _) - 2.0) *
      math.sqrt(3.0)

  private def intMod(seed: Long, salt: Int, m: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(m))

  /** The reference bench columns (id, value, score, region): value uniform
    * in 0..100000, score in 1..10, region one of 8, as BASELINE.md gives
    * them. Every workload's main table carries them, so the five scan
    * shapes run on each.
    */
  def benchColumns(seed: Long, id: Column): Seq[Column] = Seq(
    id.as("id"),
    intMod(seed, 1, 100001L, id).as("value"),
    (intMod(seed, 2, 10L, id) + 1).cast("int").as("score"),
    element_at(array(Regions.map(lit): _*),
      (intMod(seed, 3, Regions.size.toLong, id) + 1).cast("int")).as("region"))

  /** The olap table: `rows` id-ordered rows in `files` files, each cut into
    * several row groups so the stats-skipping shape has groups to skip.
    */
  def olapTable(spark: SparkSession, path: String, seed: Long, rows: Long,
      files: Int, rowGroupBytes: Long): Unit =
    spark.range(0L, rows, 1L, files)
      .select(benchColumns(seed, col("id")): _*)
      .write.option("parquet.block.size", rowGroupBytes.toString).parquet(path)

  private def words(seed: Long, src: Column, tokens: Int, vocab: Int,
      mutated: Column => Column): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(tokens - 1)), p =>
      when(mutated(p), concat(lit("x"), intMod(seed, 5, vocab.toLong, src, p).cast("string")))
        .otherwise(concat(lit("w"), intMod(seed, 4, vocab.toLong, src, p).cast("string")))))

  /** A clustered vector keyed by `key`: the key's cluster (hash mod
    * `clusters`) centre plus isotropic noise of scale `noise`.
    */
  def vector(seed: Long, key: Column, dim: Int, clusters: Int, noise: Double): Column = {
    val cluster = intMod(seed, 20, clusters.toLong, key)
    transform(sequence(lit(0), lit(dim - 1)), j =>
      gauss(seed, 21, cluster, j) + gauss(seed, 22, key, j) * noise)
  }

  /** The crawl stream. Docs `0 until history` are the admitted history (all
    * fresh); then `batches` batches of `batchDocs`. In a batch, a doc is an
    * exact clone of a history doc with share `cloneShare`, a near-duplicate
    * of one (3 of its tokens replaced) with share `nearShare`, and fresh
    * otherwise. A fresh doc draws its words from a vocabulary large enough
    * that its word 3-grams are new. A doc's text and embedding are pure
    * functions of its source doc, so a clone repeats its source's text byte
    * for byte. Columns: batch (partition), id, kind, src, text, vec, and the
    * bench columns.
    */
  def crawl(spark: SparkSession, path: String, seed: Long, history: Int,
      historyBatches: Int, batches: Int, batchDocs: Int, tokens: Int,
      vocab: Int, cloneShare: Double, nearShare: Double,
      dim: Int, clusters: Int, noise: Double): Unit = {
    val total = history.toLong + batches.toLong * batchDocs
    val id = col("id")
    val isHistory = id < history
    val u = unif(seed, 6, id)
    val kind = when(isHistory, lit("fresh"))
      .when(u < cloneShare, lit("clone"))
      .when(u < cloneShare + nearShare, lit("near"))
      .otherwise(lit("fresh"))
    val src = when(col("kind") === "fresh", id).otherwise(intMod(seed, 7, history.toLong, id))
    val mutatedAt = (0 until 3).map(k => intMod(seed, 8 + k, tokens.toLong, id).cast("int"))
    spark.range(0L, total, 1L, math.max(1, (total / 20000L).toInt))
      .select(id, kind.as("kind"))
      .select(col("id"), col("kind"), src.as("src"))
      .select(col("id"), col("kind"), col("src"),
        words(seed, col("src"), tokens, vocab, p =>
          col("kind") === "near" && mutatedAt.map(_ === p).reduce(_ || _)).as("text"),
        vector(seed, col("src"), dim, clusters, noise).as("vec"),
        when(col("id") < history, -(pmod(col("id"), lit(historyBatches.toLong)) + 1))
          .otherwise((col("id") - history) / batchDocs).cast("long").as("batch"))
      .select((col("batch") +: col("kind") +: col("src") +: col("text") +: col("vec") +:
        benchColumns(seed, col("id"))): _*)
      .write.partitionBy("batch").parquet(path)
  }

  /** Order-independent content hash of a generated table. */
  def contentHash(df: DataFrame): Long =
    df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head().getDecimal(0).longValue()
}
