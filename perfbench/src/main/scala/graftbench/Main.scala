package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run's context: the session, tracing, and the results the
  * workload reports. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val spark: SparkSession, val trace: Trace, val jobStats: Option[JobStats],
                val repo: Path, val python: String, mainStart: Instant, born: Long) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var setupFrom = born
  private var setupNs = 0L
  private var timedFrom = 0L
  private var timedNs = 0L

  /** The span of the whole workload, parent of its phases. */
  var rootSpan = 0L

  def metric(name: String, value: Double): Unit = metrics(name) = value

  def ops(attempted: Long, failed: Long, failures: Seq[String]): Unit = {
    this.attempted = attempted
    this.failed = failed
    this.failures ++= failures
  }

  def problem(p: String): Unit = problems += p

  /** A progress line in the JVM log, with seconds since the run began. */
  def log(msg: String): Unit = println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  /** Set-up time is everything between the start of `main` (or a
    * [[setupStarts]]) and the next [[timedStarts]], less [[uncounted]]
    * work. A workload of several phases sets up before each. */
  def setupStarts(): Unit = setupFrom = System.nanoTime()

  /** Starts a timed phase. A full collection first, so that every run
    * begins its timing with the same heap state, however much garbage
    * its set-up left. */
  def timedStarts(): Unit = {
    System.gc()
    log("timed phase starts")
    timedFrom = System.nanoTime()
    setupNs += timedFrom - setupFrom
  }

  def timedEnds(): Unit = {
    timedNs += System.nanoTime() - timedFrom
    log("timed phase ends")
  }

  /** The benchmark's own work during set-up (an output check), which does
    * not count as the program's set-up time. */
  def uncounted[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    log(s"$what starts")
    try body finally {
      setupNs -= System.nanoTime() - t0
      log(s"$what ends")
    }
  }

  def resultJson: String = {
    val m = metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val start = mainStart.getEpochSecond + mainStart.getNano / 1e9
    s"""{"metrics": $m, "attempted": $attempted, "failed": $failed, """ +
      s""""failures": ${failures.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""problems": ${problems.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""main_start_epoch_s": ${Json.num(start)}, """ +
      s""""timed_s": ${Json.num(timedNs / 1e9)}, "setup_s": ${Json.num(setupNs / 1e9)}}"""
  }
}

/** Entry point: `graftbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --result <file> --trace-file <file>
  * --repo <dir> --python <exe> [--corpus <dir>]`. run.py builds
  * and starts it; see perfbench/README.md. */
object Main {
  def main(args: Array[String]): Unit = {
    val (mainStart, born) = (Instant.now(), System.nanoTime())
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(traced, java.util.UUID.randomUUID().toString)
    val jobStats = if (traced) Some(new JobStats(trace)) else None
    jobStats.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Run(workload, opts("seed").toLong, opts("seconds").toDouble, spark, trace,
      jobStats, Paths.get(opts("repo")), opts("python"), mainStart, born)
    try {
      trace.span(workload, 0L) { root =>
        ctx.rootSpan = root
        workload match {
          case "catalog_sf0.01_mix" => Catalog.run(ctx, opts("corpus"), work.resolve("check"))
          case "repl_open_drain" => Replication.run(ctx, work.resolve("repl"))
        }
      }
      trace.adopt(Set(ctx.rootSpan), 0L)
      ctx.metric("peak_rss_mb", Fs.peakRssMb())
      if (traced) ctx.metric("trace.spans", trace.all.size.toDouble)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.problem(s"run aborted: $e")
    } finally {
      if (traced) trace.write(Paths.get(opts("trace-file")))
      Files.write(Paths.get(opts("result")), ctx.resultJson.getBytes(StandardCharsets.UTF_8))
      spark.stop()
      ctx.log("session stopped")
    }
  }
}

object Fs {
  /** Total bytes of the regular files under `p`. */
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var total = 0L
        s.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
        total
      } finally s.close()
    }

  /** This process's peak resident set size (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
