package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.model.MessageFormatConfig
import graft.parse.{ConfigLoader, MessageParser}
import graft.sources.{KinesisShapedSource, KinesisSource, RealTimeStore, UiReferenceStore}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

/**
 * `ingest`: the hot path under an open-loop generator.
 *
 * One generator thread replays the `events` table in time order, one
 * base64 envelope per event holding a status message and a
 * production-count message for the event's `site/area/line/m` alias,
 * into a `kinesis-shaped` stream with one shard per core, at a fixed
 * rate for an unmeasured warm-up, then as one burst backlog, then at
 * the fixed rate again for the measured steady phase. The stream
 * runs through `KinesisSource.toEnvelope` and `IngestPipeline.runIngest`
 * into `RealTimeStore` and `UiReferenceStore`.
 *
 * Freshness of an event is measured from its due time at the generator
 * (not its actual put time, so a stalled generator still counts) to the
 * progress event of the first batch whose end offset covers it.
 */
final class Ingest(spark: SparkSession, tracer: Tracer, a: Main.Args) {
  import Ingest._
  import spark.implicits._

  private val shards = Runtime.getRuntime.availableProcessors
  private val events = Envelopes.load(a.dataDir, a.seed)

  /** Per-shard due times (ns) in put order, and the commit time of the
   * batch that covered each record (0 until covered). */
  private val due = Array.fill(shards)(ArrayBuffer.empty[Long])
  private val committed = Array.fill(shards)(ArrayBuffer.empty[Long])
  private val covered = Array.fill(shards)(0)
  /** Progress events of the measured stream with their arrival time. */
  private val progressAt = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  @volatile private var streamId: java.util.UUID = _

  private object Listener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == streamId) {
        val now = System.nanoTime()
        progressAt.add((now, e.progress))
        val ends = e.progress.sources.headOption.map(s => Offsets.parse(s.endOffset))
          .getOrElse(Array.empty[Long])
        due.synchronized {
          ends.indices.foreach { s =>
            val upTo = math.min(ends(s), due(s).length.toLong).toInt
            while (covered(s) < upTo) { committed(s)(covered(s)) = now; covered(s) += 1 }
          }
        }
      }
  }

  /** Put envelopes [from, until) of the replay, already encoded as
   * `recs`; `dueNs(i)` is event i's scheduled time. */
  private def put(stream: String, from: Int, until: Int, dueNs: Int => Long,
      recs: Seq[(String, Array[Byte])]): Unit =
    due.synchronized {
      (from until until).foreach { i =>
        // the shard putRecords routes the record to (its documented
        // partition-key routing); record i gets that shard's next offset
        val s = math.floorMod(events.partitionKey(i).hashCode, shards)
        due(s) += dueNs(i); committed(s) += 0L
      }
      KinesisShapedSource.putRecords(stream, recs, System.currentTimeMillis() * 1000L)
    }

  private def encode(from: Int, until: Int): Seq[(String, Array[Byte])] =
    (from until until).map(events.envelope)

  private def totalCovered: Long = due.synchronized(covered.sum.toLong)

  private val formats = Seq(MessageFormatConfig(id = "DEFAULT"))

  /** One complete set-up: config table, empty stores, stream, running
   * query, and one small batch through every layer. */
  private def setup(k: Int): (String, String, String, StreamingQuery) = {
    val stream = s"ingest-$k"
    val cfgPath = s"${a.workDir}/config$k"
    val uiPath = s"${a.workDir}/uiref$k"
    val rtTable = s"rt_ingest_$k"
    configTable(spark, events.machines).write.mode("overwrite").parquet(cfgPath)
    RealTimeStore.write(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), RealTimeSchema), rtTable)
    KinesisShapedSource.createStream(stream, shards)
    val envelopes = KinesisSource.toEnvelope(
      spark.readStream.format("kinesis-shaped").option("streamName", stream).load())
    val q = IngestPipeline.runIngest(envelopes, "payload",
      loadConfigs = () => tracer.span("config.load") {
        val c = spark.read.parquet(cfgPath)
        (ConfigLoader.messageFormats(c), ConfigLoader.machineConfigs(c))
      },
      appendFacts = df => tracer.span("realtime.append")(RealTimeStore.append(df, rtTable)),
      mergeStatuses = ds => tracer.span("uiref.merge") {
        if (tracer.enabled) statusUpdates += ds.count()
        UiReferenceStore.merge(spark, uiPath, ds)
        if (tracer.enabled) uirefBytes += Util.dirSize(uiPath)._2
      },
      loadState = () => tracer.span("uiref.load")(UiReferenceStore.read(spark, uiPath)),
      registerMachines = ids => tracer.span("uiref.register") {
        registered += UiReferenceStore.ensureMachines(spark, uiPath, ids,
          System.currentTimeMillis() / 1000L).length
      })(spark)
    (stream, uiPath, rtTable, q)
  }
  private val statusUpdates = ArrayBuffer.empty[Long]
  private val uirefBytes = ArrayBuffer.empty[Long]
  private val registered = ArrayBuffer.empty[Int]

  def run(): RunResult = {
    val r = new RunResult
    Util.log("replay loaded")
    spark.streams.addListener(Listener)
    // Set-up repeats: each builds the whole path from nothing and pushes
    // the first WarmEvents envelopes through it; only the last is kept.
    var last: (String, String, String, StreamingQuery) = null
    (1 to Main.Setups).foreach { k =>
      val t0 = System.nanoTime()
      val s = setup(k)
      if (k == Main.Setups) {
        streamId = s._4.id
        put(s._1, 0, WarmEvents, _ => t0, encode(0, WarmEvents))
      } else KinesisShapedSource.putRecords(s._1, encode(0, WarmEvents),
        System.currentTimeMillis() * 1000L)
      s._4.processAllAvailable()
      r.setupS += Util.secs(t0)
      if (k < Main.Setups) s._4.stop() else last = s
    }
    val (stream, uiPath, rtTable, q) = last
    Util.log("set-ups done")
    statusUpdates.clear(); uirefBytes.clear(); registered.clear()
    val factsBefore = if (tracer.enabled) spark.table(rtTable).count() else 0L
    tracer.spans.clear()
    progressAt.clear()

    val jvm = new JvmMeter
    jvm.start()
    var lateMax = 0L
    /** Open loop at Rate events/s for `secs` seconds from event `from`,
     * event i due at t0 + (i - from) / Rate, until every event put is
     * covered; returns the next event. */
    def openLoop(from: Int, secs: Double, t0: Long): Int = {
      val until = from + (secs * Rate).toInt
      def dueAt(i: Int): Long = t0 + (i - from).toLong * 1000000000L / Rate
      var sent = from
      while (sent < until) {
        val now = System.nanoTime()
        val target = math.min(until, from + ((now - t0) * Rate / 1000000000L).toInt + 1)
        if (target > sent) {
          lateMax = math.max(lateMax, now - dueAt(sent))
          put(stream, sent, target, dueAt, encode(sent, target))
          sent = target
        }
        Thread.sleep(TickMs)
      }
      waitCovered(sent, q)
      sent
    }
    def batches(after: Long) =
      progressAt.asScala.toSeq.collect { case (t, p) if t > after && p.numInputRows > 0 => p }
    def show(ps: Seq[StreamingQueryProgress]) =
      ps.map(p => s"${p.numInputRows}/${p.durationMs.get("triggerExecution")}").mkString(" ")

    // Warm-up: WarmupS seconds of open loop, unmeasured.
    var sent = openLoop(WarmEvents, WarmupS, System.nanoTime())
    Util.log(s"warm-up done: batches (rows/ms) ${show(batches(0L))}")
    // Burst phase: a backlog of BurstEvents put at once, drained. The
    // envelopes are encoded before the clock starts.
    val burst = encode(sent, sent + BurstEvents)
    val b0 = System.nanoTime()
    put(stream, sent, sent + BurstEvents, _ => b0, burst)
    sent += BurstEvents
    waitCovered(sent, q)
    val burstEnd = coveredAt(sent - 1)
    val burstBatches = batches(b0).length
    Util.log(s"burst done in ${(burstEnd - b0) / 1000000} ms")
    // Steady phase, measured: the run's seconds of open loop. It comes
    // last, so the burst's batches have warmed up the JVM first.
    lateMax = 0L
    val t0 = System.nanoTime()
    sent = openLoop(sent, a.seconds, t0)
    q.stop()
    val steady = batches(t0)
    Util.log(s"steady phase done: batches (rows/ms) ${show(steady)}")

    // Every event of a batch shares the batch's commit time, so the
    // freshness percentiles rest on the steady batches, not the events.
    val fresh = due.synchronized {
      (0 until shards).flatMap(s => due(s).indices.collect {
        case i if due(s)(i) >= t0 => (committed(s)(i) - due(s)(i)) / 1e6
      })
    }
    val batchS = steady.map(_.durationMs.get("triggerExecution").doubleValue / 1e3)
    r.attempted = sent
    r.e2e.put("latency_p50_ms", Stats.median(fresh), "ms", steady.length)
    r.e2e.put("latency_p90_ms", Stats.pct(fresh, 0.9), "ms", steady.length)
    r.e2e.put("throughput_per_s", BurstEvents / ((burstEnd - b0) / 1e9), "1/s", burstBatches)
    r.e2e.put("wall_s", Stats.median(batchS), "s", steady.length)

    // appends ran in the stream's own session; drop this session's
    // cached listing of the table before reading it
    spark.catalog.refreshTable(rtTable)
    // the layers cover every batch after set-up: warm-up, steady, burst
    val prog = progressAt.asScala.toSeq.map(_._2).filter(_.numInputRows > 0)
    if (tracer.enabled)
      layers(r, prog, jvm, sent, rtTable, lateMax, spark.table(rtTable).count() - factsBefore)

    // Correctness: the final stores against a plain-Scala fold of
    // every envelope put.
    check(r, sent, uiPath, rtTable)
    Util.log("checks done")
    r
  }

  private def coveredAt(i: Int): Long = due.synchronized {
    val s = math.floorMod(events.partitionKey(i).hashCode, shards)
    committed(s)(due(s).length - 1)
  }

  private def waitCovered(n: Int, q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 150L * 1000000000L
    while (totalCovered < n) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"ingest: $n events not covered in time")
      Thread.sleep(2)
    }
  }

  private def layers(r: RunResult, prog: Seq[StreamingQueryProgress], jvm: JvmMeter,
      sent: Int, rtTable: String, lateMs: Long, factsOut: Long): Unit = {
    tracer.drain()
    val L = r.layers
    val nb = prog.length.max(1)
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val rows = prog.map(_.numInputRows.toDouble)
    L.put("kinesis.records_read", rows.sum, "count", nb)
    // records waiting when each batch was planned
    val backlog = prog.flatMap(_.sources.headOption)
      .map(s => (Offsets.parse(s.latestOffset).sum - Offsets.parse(s.startOffset).sum).toDouble)
    L.put("kinesis.backlog_max", (0.0 +: backlog).max, "count", nb)
    L.put("kinesis.latestOffset_ms", Stats.mean(dur("latestOffset")), "ms", nb)
    L.put("kinesis.getBatch_ms", Stats.mean(dur("getBatch")), "ms", nb)
    L.put("gen.late_ms_max", lateMs / 1e6, "ms")
    val spans = tracer.spans.asScala.toSeq
    def spanMs(n: String) = spans.filter(_.name == n).map(_.ms)
    val callbackMs = Seq("config.load", "realtime.append", "uiref.merge", "uiref.load", "uiref.register")
      .map(n => spanMs(n).sum).sum
    L.put("ingest.batches", prog.length, "count")
    L.put("ingest.batch_ms_p50", Stats.median(dur("triggerExecution")), "ms", nb)
    L.put("ingest.batch_ms_max", if (prog.isEmpty) 0.0 else dur("triggerExecution").max, "ms", nb)
    L.put("ingest.rows_per_batch_p50", Stats.median(rows), "count", nb)
    L.put("ingest.addBatch_ms", Stats.mean(dur("addBatch")), "ms", nb)
    L.put("ingest.queryPlanning_ms", Stats.mean(dur("queryPlanning")), "ms", nb)
    L.put("ingest.walCommit_ms", Stats.mean(dur("walCommit")), "ms", nb)
    L.put("ingest.commitOffsets_ms", Stats.mean(dur("commitOffsets")), "ms", nb)
    L.put("ingest.self_ms", (dur("addBatch").sum - callbackMs) / nb, "ms", nb)
    val batchWork = prog.map(p => tracer.workOf(s"batch/${p.batchId}"))
    L.put("ingest.jobs_per_batch", Stats.mean(batchWork.map(_.jobs.get.toDouble)), "count", nb)
    L.put("ingest.tasks_per_batch", Stats.mean(batchWork.map(_.tasks.get.toDouble)), "count", nb)
    // parse counters, over everything the run put into the stream
    val all = spark.createDataFrame(
      (0 until sent).map(i => Row(java.util.Base64.getEncoder.encodeToString(events.envelope(i)._2))).asJava,
      StructType(Seq(StructField("payload", StringType))))
    val parsed = MessageParser.parseBase64(all, col("payload"), formats)
    L.put("parse.messages_in", parsed.count().toDouble, "count")
    L.put("parse.facts_out", factsOut.toDouble, "count")
    L.put("parse.rejects", MessageParser.rejects(
      all.withColumn("_j", MessageParser.decodeBase64(col("payload"))), col("_j"), formats).count().toDouble,
      "count")
    L.put("parse.status_updates", statusUpdates.sum.toDouble, "count", statusUpdates.length)
    val appendMs = spanMs("realtime.append")
    L.put("realtime.append_ms", Stats.mean(appendMs), "ms", appendMs.length)
    L.put("realtime.rows_appended", factsOut.toDouble, "count")
    val (files, bytes) = Util.dirSize(s"${a.workDir}/warehouse/$rtTable")
    L.put("realtime.files_end", files.toDouble, "count")
    L.put("realtime.bytes_end", bytes.toDouble, "B")
    L.put("uiref.load_ms", Stats.mean(spanMs("uiref.load")), "ms", spanMs("uiref.load").length)
    L.put("uiref.merge_ms", Stats.mean(spanMs("uiref.merge")), "ms", spanMs("uiref.merge").length)
    L.put("uiref.register_ms", Stats.mean(spanMs("uiref.register")), "ms", spanMs("uiref.register").length)
    L.put("uiref.registered", registered.sum.toDouble, "count")
    L.put("uiref.bytes_written_per_update",
      if (statusUpdates.sum == 0) 0.0 else uirefBytes.sum.toDouble / statusUpdates.sum, "B", uirefBytes.length)
    L.put("config.load_ms", Stats.mean(spanMs("config.load")), "ms", spanMs("config.load").length)
    Main.jvmLayers(r, tracer, jvm)
  }

  private def check(r: RunResult, sent: Int, uiPath: String, rtTable: String): Unit = {
    val exp = Envelopes.fold((0 until sent).map(events.spec))
    val facts = spark.table(rtTable)
      .select(col("id"), col("messageTimestamp"), col("value"), col("expirationTimestamp"))
      .as[(String, Long, String, Long)].collect()
    val ord = Ordering[(String, Long, String, Long)]
    if (!facts.sorted(ord).sameElements(exp.facts.sorted(ord))) {
      val got = facts.groupBy(identity).map { case (k, v) => k -> v.length }
      val want = exp.facts.groupBy(identity).map { case (k, v) => k -> v.length }
      val missing = want.keySet.diff(got.keySet).size
      val extra = got.keySet.diff(want.keySet).size
      r.failures += s"realtime store: ${facts.length} rows vs ${exp.facts.length} expected " +
        s"($missing missing, $extra unexpected keys)"
      r.failed += math.max(1, missing + extra)
    }
    val ui = UiReferenceStore.read(spark, uiPath)
      .select(col("machineId"), col("machineStatus")).as[(String, String)].collect()
      .map { case (m, s) => m -> Option(s) }.toMap
    if (ui != exp.lastStatus) {
      val bad = (ui.keySet ++ exp.lastStatus.keySet).count(k => ui.get(k) != exp.lastStatus.get(k))
      r.failures += s"ui-reference store: $bad machines differ from the fold"
      r.failed += bad
    }
    r.checks += ("ingest_facts" -> exp.facts.length.toString)
    r.checks += ("ingest_machines" -> exp.lastStatus.size.toString)
  }
}

object Ingest {
  /** Events per second during the steady phase. */
  val Rate = 1000
  /** Backlog size of the burst phase. */
  val BurstEvents = 60000
  val WarmEvents = 20
  /** Unmeasured open-loop seconds before the measured steady phase. */
  val WarmupS = 5
  val TickMs = 5L

  val RealTimeSchema = StructType(Seq(
    StructField("id", StringType), StructField("messageTimestamp", LongType),
    StructField("value", StringType), StructField("expirationTimestamp", LongType)))

  /** MESSAGE_FORMAT row plus one MACHINE_CONFIG row per machine: the
   * status tag is `status` with UP/DOWN/IDLE values, the production
   * count tag is `pc`. */
  def configTable(spark: SparkSession, machines: Seq[String]): DataFrame = {
    val rows = ("DEFAULT", "MESSAGE_FORMAT", null, null, null, null, null) +:
      machines.map(m => (m, "MACHINE_CONFIG", "status", "pc", "UP", "DOWN", "IDLE"))
    spark.createDataFrame(rows).toDF("id", "type", "machineStatusTagName",
      "machineProductionCountTagName", "machineStatusUpValue", "machineStatusDownValue",
      "machineStatusIdleValue")
  }
}

/** Per-shard counts from a kinesis-shaped offset JSON (`[3,5]`). */
object Offsets {
  def parse(json: String): Array[Long] = {
    val b = Option(json).getOrElse("").trim.stripPrefix("[").stripSuffix("]").trim
    if (b.isEmpty) Array.empty else b.split(",").map(_.trim.toLong)
  }
}

/**
 * The replayed input: the `events` table in time order, wrapped with a
 * 30-day shift per lap, each event turned into one envelope. A seeded
 * 2% of envelopes are bad: 0.5% carry an unparseable timestamp, 0.5%
 * are not JSON (both rejected whole) and 1% replace the production
 * count with an unconfigured `temperature` tag (dropped, the status
 * still lands).
 */
final class Envelopes(user: Array[Long], tsUs: Array[Long], kind: Array[Byte],
    status: Array[String], count: Array[Long]) {
  import Envelopes._
  private val n = user.length
  def machines: Seq[String] = user.distinct.sorted.map(machineId).toSeq
  def partitionKey(i: Int): String = machineId(user(i % n))
  def spec(i: Int): Spec = {
    val j = i % n
    Spec(machineId(user(j)), tsUs(j) + (i / n).toLong * LapUs, kind(j), status(j), count(j))
  }
  def envelope(i: Int): (String, Array[Byte]) = {
    val s = spec(i)
    (s.machine, json(s).getBytes(UTF_8))
  }
}

object Envelopes {
  val LapUs: Long = 30L * 86400L * 1000000L
  final case class Spec(machine: String, tsUs: Long, kind: Byte, status: String, count: Long)

  def machineId(u: Long): String = s"site${u % 3}/area${u % 2}/line${u % 4}/m$u"

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSSxxx").withZone(java.time.ZoneOffset.UTC)
  private def ts(us: Long): String =
    tsFmt.format(java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private def msg(alias: String, t: String, v: String) =
    s"""{"name":"$alias","quality":"GOOD","timestamp":"$t","value":"$v"}"""

  def json(s: Spec): String = s.kind match {
    case BadJson => s"""{"messages":[${msg(s.machine + "/status", ts(s.tsUs), s.status)}"""
    case BadTs => s"""{"messages":[${msg(s.machine + "/status", "2024/01/01 00:00", s.status)},""" +
      s"""${msg(s.machine + "/pc", ts(s.tsUs), s.count.toString)}]}"""
    case other =>
      val second = if (other == Unconfigured) msg(s.machine + "/temperature", ts(s.tsUs), "21.5")
        else msg(s.machine + "/pc", ts(s.tsUs), s.count.toString)
      s"""{"messages":[${msg(s.machine + "/status", ts(s.tsUs), s.status)},$second]}"""
  }

  val Ok: Byte = 0
  val BadTs: Byte = 1
  val BadJson: Byte = 2
  val Unconfigured: Byte = 3

  /** The replay from `replay.csv` (perfbench/gen.py): `user_id,ts_us,
   * event_type,count` per event, in event_id order. */
  def load(dataDir: String, seed: Long): Envelopes = {
    val rows = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dataDir, "replay.csv"))
      .asScala.map(_.split(',')).toArray
    val rng = new scala.util.Random(seed)
    new Envelopes(rows.map(_(0).toLong), rows.map(_(1).toLong),
      rows.map { _ =>
        val x = rng.nextDouble()
        if (x < 0.005) BadTs else if (x < 0.01) BadJson else if (x < 0.02) Unconfigured else Ok
      },
      rows.map(r => r(2) match {
        case "error" => "DOWN"
        case "purchase" | "click" => "UP"
        case _ => "IDLE"
      }),
      rows.map(_(3).toLong))
  }

  final case class Expected(facts: Seq[(String, Long, String, Long)],
      lastStatus: Map[String, Option[String]])

  /** Plain-Scala fold of the envelopes, independent of graft: the fact
   * rows every accepted envelope yields, and each machine's final
   * status (last by (timestamp, status); null for a machine that only
   * ever sent non-status messages). */
  def fold(specs: Seq[Spec]): Expected = {
    val facts = ArrayBuffer.empty[(String, Long, String, Long)]
    val last = mutable.HashMap.empty[String, Option[(Long, String)]]
    specs.foreach { s =>
      if (s.kind == Ok || s.kind == Unconfigured) {
        val sec = Math.floorDiv(s.tsUs, 1000000L)
        facts += ((s"STATUS_${s.machine}", sec, s.status, sec + 24 * 3600L))
        if (s.kind == Ok) facts += ((s"PRODUCTION_COUNT_${s.machine}", sec, s.count.toString, sec + 24 * 3600L))
        val prev = last.getOrElse(s.machine, None)
        if (prev.forall(p => Ordering[(Long, String)].gteq((sec, s.status), p)))
          last(s.machine) = Some((sec, s.status))
      }
    }
    Expected(facts.toSeq, last.map { case (k, v) => k -> v.map(_._2) }.toMap)
  }
}
