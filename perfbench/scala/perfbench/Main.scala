package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run of one workload, in its own JVM:
 *
 *   perfbench.Main <workload> <dataDir> <workDir> <seed> <seconds> <trace 0|1>
 *     [--master local[N]] [--conf key=value]...
 *
 * Drives graft only through its public entry points, with graft.Bench's
 * session settings, and writes `<workDir>/result.json`: set-up samples,
 * end-to-end metrics (always), per-layer metrics (traced runs), op
 * counts, and the files the Python side checks against its oracles.
 */
object Main {
  final case class Args(workload: String, dataDir: String, workDir: String,
      seed: Long, seconds: Double, trace: Boolean, master: String,
      confs: Seq[(String, String)])

  def parse(a: Array[String]): Args = {
    val pos = a.takeWhile(!_.startsWith("--"))
    var master = s"local[${Runtime.getRuntime.availableProcessors}]"
    val confs = ArrayBuffer.empty[(String, String)]
    a.drop(pos.length).grouped(2).foreach {
      case Array("--master", m) => master = m
      case Array("--conf", kv) => confs += (kv.takeWhile(_ != '=') -> kv.dropWhile(_ != '=').drop(1))
      case other => sys.error(s"unknown option ${other.mkString(" ")}")
    }
    Args(pos(0), pos(1), pos(2), pos(3).toLong, pos(4).toDouble, pos(5) == "1", master, confs.toSeq)
  }

  /** graft.Bench's session: local[n], n shuffle partitions, UTC, ANSI
   * on, no UI; plus warehouse and scratch dirs inside the work dir. */
  def session(a: Args): SparkSession = {
    val cores = a.master.stripPrefix("local[").stripSuffix("]")
    val b = SparkSession.builder()
      .master(a.master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"${a.workDir}/checkpoints")
    val spark = a.confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Exits the JVM explicitly, 0 after a complete run and 1 on any
   * failure, so no lingering thread can keep the process alive. */
  def main(argv: Array[String]): Unit = {
    val ok = try { run(argv); true } catch {
      case e: Throwable => e.printStackTrace(); false
    }
    System.exit(if (ok) 0 else 1)
  }

  def run(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.workDir))
    val t0 = System.nanoTime()
    val spark = session(a)
    Util.log("session up")
    val tracer = new Tracer(spark, a.trace)
    val out = try a.workload match {
      case "ingest" => new Ingest(spark, tracer, a).run()
      case "serve" => serve(spark, tracer, a)
      case "bi" => queries(new Queries(spark, tracer, a, Queries.Bi, warmCorpus = false), Setups)
      case "corpus" => queries(new Queries(spark, tracer, a, Queries.Corpus, warmCorpus = true), 1)
      case other => sys.error(s"unknown workload $other")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
    Files.writeString(Paths.get(a.workDir, "result.json"), out.json)
    if (tracer.enabled)
      Files.writeString(Paths.get(a.workDir, "spans.jsonl"),
        tracer.spans.asScala.toSeq.sortBy(_.startNs).map(_.json).mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Set-up repeats per run; set-up time is their median. */
  val Setups = 3

  /** `serve`: the two read paths on one store and one session, one
   * after the other so neither measures the other's load: one BI pass
   * over the BI list (the run's wall), then two closed-loop dashboard
   * clients for the run's seconds (latency and rate). */
  def serve(spark: SparkSession, tracer: Tracer, a: Args): RunResult = {
    val r = new RunResult
    val dash = new Dashboard(spark, tracer, a)
    val bi = new Queries(spark, tracer, a, Queries.Bi, warmCorpus = false, passes = Some(1))
    (1 to Setups).foreach(k => r.setupS += Util.seconds { dash.setup(k); bi.setup(k, touchTables = false) })
    Util.log("set-ups done")
    val jvm = new JvmMeter
    jvm.start()
    bi.measure()
    Util.log("BI pass done")
    dash.measure(a.seconds)
    Util.log("dashboard loop done")
    jvmLayers(r, tracer, jvm)
    dash.report(r)
    bi.report(r, queryLatency = false)
    r
  }

  /** `bi` and `corpus` alone: per-query latency and rate, pass wall. */
  def queries(q: Queries, setups: Int): RunResult = {
    val r = new RunResult
    (1 to setups).foreach(k => r.setupS += Util.seconds(q.setup(k)))
    val jvm = new JvmMeter
    jvm.start()
    q.measure()
    jvmLayers(r, q.tracer, jvm)
    q.report(r, queryLatency = true)
    r
  }

  def jvmLayers(r: RunResult, tracer: Tracer, jvm: JvmMeter): Unit =
    if (tracer.enabled) {
      r.layers.put("jvm.gc_s", jvm.gcS, "s")
      r.layers.put("jvm.heap_peak_mb", jvm.heapPeakMb, "MB")
      r.layers.put("jvm.cpu_s", jvm.cpuS, "s")
    }
}

/** What one run hands to the Python side. */
final class RunResult {
  val setupS = ArrayBuffer.empty[Double]
  val e2e = new Metrics
  val layers = new Metrics
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val checks = ArrayBuffer.empty[(String, String)]

  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def json: String =
    s"""{"setup_s":${setupS.mkString("[", ",", "]")},"e2e":${e2e.json},""" +
      s""""layers":${layers.json},"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(q).mkString("[", ",", "]")},""" +
      s""""checks":${checks.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")}}"""
}

object Util {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** Progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")
  def seconds(f: => Unit): Double = { val t0 = System.nanoTime(); f; secs(t0) }

  /** Byte and file totals of every data file under `dir`. */
  def dirSize(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (files.length.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
  }
}
