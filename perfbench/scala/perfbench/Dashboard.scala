package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.api.Facade
import graft.sources.{RealTimeStore, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The dashboard side of `serve`: a closed loop of Clients threads.
 *
 * The store is one `RealTimeStore.write` of the telemetry history up to
 * day 28 plus Appends `append` micro-batches covering the last days, so
 * reads cross the small appended files they cross between compactions.
 * Each client replays a seeded call sequence over Zipf-skewed machines
 * (see [[Dashboard.Cycle]]): 12 h `getRealTimeMachineData` windows, 1 h
 * `refreshRealTimeMachineData` refreshes of the client's previous
 * window, and one 30-day window. A call is timed from the Facade
 * call to the last result row collected.
 */
final class Dashboard(spark: SparkSession, tracer: Tracer, a: Main.Args) {
  import Dashboard._

  // RealTimeStore's documented setting for interactive point reads:
  // keep the bucketed scan so the id predicate prunes buckets.
  spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")

  private def facts(): DataFrame =
    Tables.realTime(spark, a.dataDir).select(col("id"), col("messageTimestamp"), col("value"),
      (col("messageTimestamp") + 24 * 3600L).as("expirationTimestamp"))

  private def buildStore(table: String): Unit = {
    val f = facts()
    RealTimeStore.write(f.filter(col("messageTimestamp") < AppendFrom), table)
    val step = (End - AppendFrom) / Appends
    (0 until Appends).foreach { i =>
      val lo = AppendFrom + i * step
      val hi = if (i == Appends - 1) Long.MaxValue else lo + step
      RealTimeStore.append(f.filter(col("messageTimestamp") >= lo && col("messageTimestamp") < hi), table)
    }
  }

  private lazy val machines: Array[String] = spark.read.parquet(s"${a.dataDir}/events.parquet")
    .select(col("user_id")).distinct().collect().map(_.getLong(0)).sorted
    .map(Envelopes.machineId)

  /** Seeded calls of one client stream: each call of the given kind
   * draws its machine and window end from the seed and the stream. */
  private def draw(stream: Int): String => Call = {
    val rng = new scala.util.Random(a.seed * 1000 + stream)
    val w = machines.indices.map(i => 1.0 / math.pow(i + 1, ZipfS)).scanLeft(0.0)(_ + _).tail
    val total = w.last
    def machine(): String = {
      val x = rng.nextDouble() * total
      machines(math.min(w.indexWhere(_ >= x), machines.length - 1))
    }
    def minute(lo: Long, hi: Long): Long = (lo + (rng.nextDouble() * (hi - lo)).toLong) / 60 * 60
    kind => kind match {
      case "window30d" => Call("window30d", machine(), Start, End)
      case "refresh1h" => Call("refresh1h", "", 0L, 0L)
      case _ => val e = minute(Start + 12 * 3600L, End); Call("window12h", machine(), e - 12 * 3600L, e)
    }
  }

  private val ChunkSchema = StructType(Seq(StructField("dataAsOfUTCUnixTimestamp", LongType),
    StructField("statusValue", StringType), StructField("productionCountValue", StringType)))

  private var table: String = _

  /** Set-up repeat k: a complete store of its own; the last one serves. */
  def setup(k: Int): Unit = {
    table = s"rt_dash_$k"
    buildStore(table)
    machines
    ()
  }

  private val lat = new ConcurrentLinkedQueue[Double]()
  private val perCall = new ConcurrentLinkedQueue[(String, Double, Double, Long)]() // key, ms, planMs, rows
  private val scans = new ConcurrentLinkedQueue[(Long, Long, Long)]() // files, buckets, rows scanned
  private val errors = new ConcurrentLinkedQueue[String]()
  // sampled calls of client 0: the call, the window a refresh refreshes, the rows
  private val checked = new ConcurrentLinkedQueue[(Call, Option[Call], Array[Row])]()
  private val kindMs = new ConcurrentLinkedQueue[(String, Double)]()
  private var measured = 0.0

  /** One call: the Facade call and the collect of its rows, timed when
   * `timed`. Returns the client's window a later refresh refreshes. */
  private def makeCall(c: Int, key: String, call0: Call, prior: Option[(Call, Seq[Row])],
      timed: Boolean): Option[(Call, Seq[Row])] = {
    val call = if (call0.kind == "refresh1h" && prior.isEmpty)
      Call("window12h", machines(0), Start, Start + 12 * 3600L) else call0
    val c0 = System.nanoTime()
    try {
      val rt = RealTimeStore.read(spark, table)
      val df = tracer.keyed(key)(tracer.span("facade.call", key) {
        if (call.kind == "refresh1h") {
          val (w, rows) = prior.get
          val priorDf = spark.createDataFrame(rows.asJava, ChunkSchema)
          Facade.refreshRealTimeMachineData(rt, w.machine, priorDf, w.end - 600L, w.end + 3600L)
        } else Facade.getRealTimeMachineData(rt, call.machine, call.start, call.end,
          incrementalRefresh = false)
      })
      val rows = tracer.keyed(key)(tracer.span("facade.collect", key)(df.collect()))
      val ms = (System.nanoTime() - c0) / 1e6
      if (timed) {
        lat.add(ms)
        kindMs.add((call.kind, ms))
        if (c == 0 && checked.size < Checked)
          checked.add((call, if (call.kind == "refresh1h") prior.map(_._1) else None, rows))
        if (tracer.enabled) {
          perCall.add((key, ms, Plans.planMs(df.queryExecution), rows.length.toLong))
          Plans.scans(df.queryExecution.executedPlan).foreach { s =>
            def m(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
            scans.add((m("numFiles"), s.optionalBucketSet.map(_.cardinality().toLong)
              .getOrElse(s.relation.bucketSpec.map(_.numBuckets.toLong).getOrElse(0L)),
              m("numOutputRows")))
          }
        }
      }
      if (call.kind == "window12h") Some((call, rows.toSeq)) else prior
    } catch {
      case e: Throwable =>
        errors.add(s"${call.kind} ${call.machine}: ${e.getMessage}")
        prior
    }
  }

  /** Each client first makes the opening call and one cycle untimed,
   * from a seeded sequence of its own (a fresh JVM's calls get faster
   * for several seconds, the first call of a kind most); once every
   * client is warm, each makes the timed opening call and then whole
   * cycles until `seconds` are spent, so every run times the same mix
   * of kinds. */
  def measure(seconds: Double): Unit = {
    val deadline = new AtomicLong(Long.MaxValue)
    val t0 = new AtomicLong()
    val warm = new CyclicBarrier(Clients, () => {
      t0.set(System.nanoTime())
      deadline.set(t0.get + (seconds * 1e9).toLong)
    })
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        var prior = Option.empty[(Call, Seq[Row])]
        val warmCall = draw(Clients + c)
        (Opening ++ Cycle).zipWithIndex.foreach { case (k, i) =>
          prior = makeCall(c, s"warm/$c/$i", warmCall(k), prior, timed = false)
        }
        warm.await()
        prior = None
        val next = draw(c)
        var i = 0
        def timed(k: String): Unit = { prior = makeCall(c, s"call/$c/$i", next(k), prior, timed = true); i += 1 }
        Opening.foreach(timed)
        while (System.nanoTime() < deadline.get) Cycle.foreach(timed)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    measured = Util.secs(t0.get)
    Util.log("timed calls by kind (n, median ms): " + kindMs.asScala.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k ${v.length} ${Stats.median(v.map(_._2))}%.0f" }.mkString(", "))
  }

  /** Call latency and rate as the run's end-to-end figures, the serve
   * layers when traced, and the correctness sample. */
  def report(r: RunResult): Unit = {
    val ms = lat.asScala.toSeq
    r.attempted += ms.length + errors.size
    r.failed += errors.size
    r.failures ++= errors.asScala.take(10)
    r.e2e.put("latency_p50_ms", Stats.median(ms), "ms", ms.length)
    r.e2e.put("latency_p90_ms", Stats.pct(ms, 0.9), "ms", ms.length)
    r.e2e.put("throughput_per_s", ms.length / measured, "1/s", ms.length)

    if (tracer.enabled) {
      tracer.drain()
      val L = r.layers
      val pc = perCall.asScala.toSeq
      val n = pc.length
      L.put("facade.plan_ms_p50", Stats.median(pc.map(_._3)), "ms", n)
      L.put("facade.exec_ms_p50", Stats.median(pc.map(p => p._2 - p._3)), "ms", n)
      L.put("facade.jobs_per_call", Stats.mean(pc.map(p => tracer.workOf(p._1).jobs.get.toDouble)), "count", n)
      L.put("facade.tasks_per_call", Stats.mean(pc.map(p => tracer.workOf(p._1).tasks.get.toDouble)), "count", n)
      val sc = scans.asScala.toSeq
      L.put("realtime.files_read_per_call", sc.map(_._1).sum.toDouble / n.max(1), "count", n)
      L.put("realtime.buckets_read_per_call", sc.map(_._2).sum.toDouble / n.max(1), "count", n)
      L.put("realtime.rows_scanned_per_row",
        sc.map(_._3).sum.toDouble / math.max(1L, pc.map(_._4).sum), "ratio", n)
      val (files, bytes) = Util.dirSize(s"${a.workDir}/warehouse/$table")
      L.put("realtime.files_end", files.toDouble, "count")
      L.put("realtime.bytes_end", bytes.toDouble, "B")
    }

    // Correctness sample: the first calls client 0 made, windows and
    // refreshes, checked by the Python side against the DuckDB
    // condensation oracle over the generated events.
    checked.asScala.zipWithIndex.foreach { case ((c, w, rows), i) =>
      val head = w.fold(Seq(c.kind, c.machine, c.start, c.end))(p => Seq(c.kind, p.machine, p.start, p.end))
      r.checks += (f"call:$i%03d" -> (head.mkString(",") +:
        rows.map(x => s"${x.getLong(0)},${x.getString(1)},${x.getString(2)}")).mkString("\n"))
    }
  }
}

object Dashboard {
  final case class Call(kind: String, machine: String, start: Long, end: Long)
  val Clients = 2
  val Appends = 2
  /** Timed calls of client 0 checked: the opening call and the eight
   * after it, two refreshes among them. */
  val Checked = 9
  val ZipfS = 1.1
  /** Timed calls of one client: the opening 30-day window, then whole
   * cycles of four 12-hour windows and one 1-hour refresh of the
   * client's last window. */
  val Opening = Seq("window30d")
  val Cycle = Seq("window12h", "window12h", "refresh1h", "window12h", "window12h")
  val Start = 1704067200L // 2024-01-01 UTC
  val End = Start + 30L * 86400L
  val AppendFrom = Start + 28L * 86400L
}
