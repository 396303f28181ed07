package graftbench

import org.apache.spark.sql.DataFrame

/** olap: the four reference shapes plus a stats-skipping shape, interleaved
  * round-robin over a generated id-ordered table. It loads the Parquet
  * decode, row-group skipping and Catalyst planning layers and no store or
  * text/vector kernel.
  */
final class Olap(run: Run) extends Workload {
  import Olap._
  private val spark = run.spark
  private val path = s"${run.workDir}/olap_table"
  private var shapes: Shapes = _
  private var expected: Map[String, Seq[Seq[Any]]] = _

  def generate(): Long = {
    Gen.olapTable(spark, path, run.seed, Rows, Files, RowGroupBytes)
    Gen.contentHash(spark.read.parquet(path))
  }

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    // the warehouse model: the table is opened once, answers computed once
    val table: DataFrame = spark.read.parquet(path)
    val (lo, hi) = Shapes.skipRange(run.seed, Rows)
    shapes = new Shapes(table, run.tracer, Rows, lo, hi)
    expected = run.tracer.span("setup.store_build")(shapes.answers())
    Map("store_build" -> (System.nanoTime() - t0) / 1e9)
  }

  def warmup(): Unit = shapes.names.foreach(shapes.run)

  def round(): Boolean = {
    shapes.names.foreach { s =>
      run.op(s, Rows) {
        val (out, n) = shapes.run(s)
        (out == expected(s), n)
      }
    }
    true
  }

  def finish(): Unit = {
    run.facts("table_rows") = Rows
    run.facts("table_bytes") = Disk.bytes(path)
    run.facts("table_raw_bytes") = Rows * RawBytesPerRow
    run.facts("table_files") = Files
    run.facts("skip_range") = Shapes.skipRange(run.seed, Rows).productIterator.toSeq
  }
}

object Olap {
  val Rows = 2000000L
  val Files = 4
  /** Small row groups, so each file holds several and skip_scan can skip. */
  val RowGroupBytes: Long = 2L << 20
  /** id, value (8 bytes each), score (4) and an average region name (7). */
  val RawBytesPerRow = 27L
}
