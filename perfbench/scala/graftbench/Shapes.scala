package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.ColeQuery._

/** The five scan shapes over a table with the reference bench columns,
  * compiled by the program's ColeQuery and checked against answers that
  * plain DataFrame code computes once in set-up.
  *
  * full_scan decodes every column batch and counts rows (the reference's
  * full-scan semantics, as graft.Bench has them); filtered_scan and
  * skip_scan iterate the filtered rows; aggregation and group_by collect.
  */
final class Shapes(table: DataFrame, tracer: Tracer, val rows: Long,
    skipLo: Long, skipHi: Long) {

  val names: Seq[String] =
    Seq("full_scan", "filtered_scan", "skip_scan", "aggregation", "group_by")

  private val all = Seq("id", "value", "score", "region")

  private val queries: Map[String, Query] = Map(
    "full_scan" -> Query(projection = all),
    "filtered_scan" -> Query(projection = all,
      filters = Seq(Predicate("value", Gt, 50000L))),
    "skip_scan" -> Query(projection = all,
      filters = Seq(Predicate("id", Ge, skipLo), Predicate("id", Lt, skipHi))),
    "aggregation" -> Query(agg = Some((Sum, "value"))),
    "group_by" -> Query(groupBy = Seq("region"), agg = Some((Sum, "value"))))

  private def agg4 = Seq(count(lit(1)), sum(col("value")), min(col("value")),
    max(col("value")))

  /** The answers, from plain DataFrame code. */
  def answers(): Map[String, Seq[Seq[Any]]] = {
    def rowsOf(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
    Map(
      "full_scan" -> rowsOf(table.agg(count(lit(1)))),
      "filtered_scan" -> rowsOf(table.filter(col("value") > 50000L)
        .agg(count(lit(1)), sum(col("id")))),
      "skip_scan" -> rowsOf(table.filter(col("id") >= skipLo && col("id") < skipHi)
        .agg(count(lit(1)), sum(col("id")))),
      "aggregation" -> rowsOf(table.agg(agg4.head, agg4.tail: _*)),
      "group_by" -> rowsOf(table.groupBy(col("region")).agg(agg4.head, agg4.tail: _*)
        .orderBy(col("region"))))
  }

  private def consumeColumnar(df: DataFrame): Long = {
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(sys.error("no file scan in plan"))
    scan.executeColumnar()
      .mapPartitions(it => Iterator(it.map(_.numRows().toLong).sum))
      .collect().sum
  }

  /** (row count, sum of id) over the plan's rows; id is column 0. */
  private def consumeRows(df: DataFrame): (Long, Long) =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      while (it.hasNext) { s += it.next().getLong(0); n += 1 }
      Iterator((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Run one shape; returns (its rows as values, rows it returned). */
  def run(shape: String): (Seq[Seq[Any]], Long) = {
    val df = tracer.span("cole.compile") {
      val d = queries(shape).compile(table)
      d.queryExecution.executedPlan
      d
    }
    tracer.span("cole.execute") {
      shape match {
        case "full_scan" =>
          val n = consumeColumnar(df); (Seq(Seq(n)), n)
        case "filtered_scan" | "skip_scan" =>
          val (n, s) = consumeRows(df); (Seq(Seq(n, s)), n)
        case _ =>
          val out = df.collect().toSeq.map((r: Row) => r.toSeq)
          (out, out.size.toLong)
      }
    }
  }
}

object Shapes {
  /** Time `rounds` interleaved rounds of the five shapes over `table`,
    * after one untimed round, checking every answer. A workload whose timed
    * ops are not scans reports these as its per-shape latencies.
    */
  def probe(run: Run, table: DataFrame, rows: Long, rounds: Int): Unit = {
    val (lo, hi) = skipRange(run.seed, rows)
    val shapes = new Shapes(table, run.tracer, rows, lo, hi)
    val expected = shapes.answers()
    val ms = shapes.names.map(_ -> ArrayBuffer[Double]()).toMap
    (0 to rounds).foreach { r =>
      shapes.names.foreach { s =>
        val t0 = System.nanoTime()
        val (out, _) = shapes.run(s)
        if (r > 0) ms(s) += (System.nanoTime() - t0) / 1e6
        run.check(s"shape probe $s", out == expected(s))
      }
    }
    run.facts("shape_probe_ms") = ms
    run.facts("shape_probe_rows") = rows
  }

  /** The skip_scan id range: 1% of the ids, placed by the seed. */
  def skipRange(seed: Long, rows: Long): (Long, Long) = {
    val width = math.max(1L, rows / 100)
    val lo = java.lang.Math.floorMod(seed * 0x9E3779B97F4A7C15L, 99L) * width
    (lo, lo + width)
  }
}
