package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed op: `rowsIn` input records it was handed, `rowsOut` records
  * it returned or stored, and whether its output check passed.
  */
final case class OpRec(id: Long, kind: String, startNs: Long, endNs: Long,
    ok: Boolean, rowsIn: Long, rowsOut: Long)

/** The state of one benchmark run: the session, the tracer, the timed ops
  * and the facts the run reports besides them.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val workDir: String,
    val seed: Long) {
  val ops = ArrayBuffer[OpRec]()
  /** Raw facts for the result file, by name (numbers, strings, maps). */
  val facts = mutable.LinkedHashMap[String, Any]()
  /** Failed checks, one line each. */
  val failures = ArrayBuffer[String]()

  /** Time one op. `body` returns (check passed, rows out); a throw is a
    * failed op, recorded and not rethrown, so one bad op cannot hide the
    * rest of the run.
    */
  def op(kind: String, rowsIn: Long)(body: => (Boolean, Long)): Unit = {
    val id = ops.size.toLong
    tracer.currentOp = id
    val t0 = System.nanoTime()
    val (ok, out) =
      try tracer.span("op." + kind)(body)
      catch {
        case e: Exception =>
          failures += s"op $id $kind threw: ${e.toString.take(300)}"
          (false, 0L)
      }
    val t1 = System.nanoTime()
    tracer.currentOp = -1L
    if (!ok && !failures.exists(_.startsWith(s"op $id ")))
      failures += s"op $id $kind: output check failed"
    ops += OpRec(id, kind, t0, t1, ok, rowsIn, out)
  }

  /** A check outside any op; a failed one fails the run. */
  def check(what: String, ok: Boolean): Unit =
    if (!ok) failures += s"check failed: $what"
}

/** One workload: inputs, set-up, a round of timed ops, and the checks and
  * probes that run after the timed loop.
  */
trait Workload {
  /** Write the inputs under the run's directory; returns their content hash. */
  def generate(): Long
  /** Build everything the timed ops need; returns seconds per set-up step. */
  def setup(): Map[String, Double]
  /** Untimed work that lets lazy set-up and compilation finish. */
  def warmup(): Unit
  /** One round of timed ops; false when the inputs are used up. */
  def round(): Boolean
  /** Post-loop checks and probes. */
  def finish(): Unit
}

object Disk {
  /** Bytes of every regular file under `dir`. */
  def bytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def apply(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
