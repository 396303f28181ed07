package graftbench

import java.lang.management.ManagementFactory

import graft.GraftSession

/** One benchmark run in one JVM:
  * {{{
  *   graftbench.Main --workload olap|curation --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE
  * }}}
  * Generates the inputs, sets up once, warms up, runs the closed loop with
  * one client thread for S seconds, runs the post-loop checks and writes the
  * raw result to FILE as JSON (and the spans to FILE.spans.jsonl when
  * tracing). run.py computes the metrics from that file.
  */
object Main {
  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val workDir = opts("work")
    val out = java.nio.file.Paths.get(opts("out"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.local("graft-perfbench")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, traced)
    val run = new Run(spark, tracer, workDir, seed)
    val w: Workload = workload match {
      case "olap" => new Olap(run)
      case "curation" => new Curation(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val g0 = System.nanoTime()
    val inputHash = w.generate()
    val genS = (System.nanoTime() - g0) / 1e9

    val setupSteps = w.setup()
    val w0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9

    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline && w.round()) {}
    val loopS = (System.nanoTime() - loop0) / 1e9

    val f0 = System.nanoTime()
    w.finish()
    val finishS = (System.nanoTime() - f0) / 1e9
    if (traced) tracer.writeJsonl(java.nio.file.Paths.get(opts("out") + ".spans.jsonl"))

    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "traced" -> traced,
      "input_hash" -> java.lang.Long.toHexString(inputHash),
      "session_s" -> sessionS,
      "generate_s" -> genS,
      "setup_steps_s" -> setupSteps,
      "warmup_s" -> warmS,
      "loop_s" -> loopS,
      "finish_s" -> finishS,
      "wall_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "ops" -> run.ops.map(o => Seq(o.id, o.kind, (o.endNs - o.startNs) / 1e6,
        o.ok, o.rowsIn, o.rowsOut)),
      "failures" -> run.failures,
      "facts" -> run.facts,
      "peak_rss_mb" -> vmHwmKb() / 1024.0,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_master" -> spark.sparkContext.master,
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")))
    java.nio.file.Files.write(out, Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}
