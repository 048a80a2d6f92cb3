package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.{PipelineQueries, SparkEntry}
import org.apache.spark.sql.SparkSession

/**
 * `bi` and `corpus`: timed passes over a fixed query list. Each query
 * is built (the operator's eager staging jobs run here), then its
 * complete result is written as parquet, so every column of every row
 * is computed, and the files written are the ones the oracle compare
 * checks. `count()` would let Catalyst prune the result columns and
 * time a different plan (a3_condense: 0.9-1.0 s under count() against
 * 6.3-8.8 s with its 15.1 M rows materialized).
 *
 * Passes repeat until the run's seconds are spent (at least one; `serve`
 * makes exactly one); the reported wall is the median pass. Per-query
 * hygiene matches graft.Bench (clearCache + releaseStaged after each
 * query); it is outside the per-query times and inside the pass wall.
 */
final class Queries(spark: SparkSession, val tracer: Tracer, a: Main.Args,
    names: Seq[String], warmCorpus: Boolean, passes: Option[Int] = None) {
  private val fns = SparkEntry.queries
  require(names.forall(fns.contains), s"unknown queries: ${names.filterNot(fns.contains)}")

  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    graft.functions.GlobalRank.releaseStaged()
    ()
  }

  private var dir: String = _

  /** Set-up repeat k: first touch of every input table (`bi`,
   * `corpus`), plus (corpus) the fit-once shared artifacts graft.Bench
   * also builds before timing. Artifacts are memoized per data-dir
   * path, so each repeat reads the tables through a fresh path alias to
   * redo the work. */
  def setup(k: Int, touchTables: Boolean = true): Unit = {
    dir = s"${a.workDir}/data$k"
    java.nio.file.Files.createSymbolicLink(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(a.dataDir).toAbsolutePath)
    if (touchTables) Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    if (warmCorpus) PipelineQueries.warmSharedArtifacts(spark, dir)
    hygiene()
  }

  private val passWall = ArrayBuffer.empty[Double]
  private val queryMs = ArrayBuffer.empty[Double]
  private val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val failedQ = scala.collection.mutable.LinkedHashSet.empty[String]
  private val failures = ArrayBuffer.empty[String]
  // per-pass layer sums, reported as medians over passes
  private val layerNames = Seq("query.build_s", "query.plan_s", "query.exec_s",
    "query.build_jobs", "query.exec_jobs", "query.tasks", "query.serial_stages",
    "query.shuffle_mb", "query.input_mb", "query.spill_mb", "query.bhj", "query.smj")
  private val layerUnits = Seq("s", "s", "s", "count", "count", "count", "count",
    "MB", "MB", "MB", "count", "count")
  private val perPass = ArrayBuffer.empty[Array[Double]]
  private var stagedPeak = 0L
  private var attempted = 0L
  private var measured = 0.0

  /** `passes` passes over the list, or else passes until the run's
   * seconds are spent (at least one). */
  def measure(): Unit = {
    tracer.drain()
    tracer.takeExecutions() // set-up's actions
    val t0 = System.nanoTime()
    var pass = 0
    def more = passes.fold(pass == 0 || Util.secs(t0) < a.seconds)(pass < _)
    while (more) {
      val sums = Array.fill(layerNames.length)(0.0)
      val p0 = System.nanoTime()
      names.foreach { q =>
        val key = s"q/p$pass/$q"
        val q0 = System.nanoTime()
        try {
          val df = tracer.keyed(s"$key/build")(tracer.span("query.build", q)(fns(q)(spark, dir)))
          val q1 = System.nanoTime()
          if (tracer.enabled) {
            val staged = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
            stagedPeak = math.max(stagedPeak, staged)
          }
          tracer.keyed(s"$key/exec")(tracer.span("query.run", q)(
            df.write.mode("overwrite").parquet(s"${a.workDir}/results/$q")))
          val q2 = System.nanoTime()
          queryMs += (q2 - q0) / 1e6
          perQuery.getOrElseUpdate(q, ArrayBuffer.empty[Double]) += (q2 - q0) / 1e6
          if (tracer.enabled) {
            tracer.drain()
            // the write completes last: its planning is the query's plan time
            val qes = tracer.takeExecutions()
            val planMs = qes.lastOption.map(Plans.planMs).getOrElse(0.0)
            val (b, s) = qes.map(e => Plans.joins(e.executedPlan)).foldLeft((0, 0)) {
              case ((x, y), (u, v)) => (x + u, y + v) }
            val scanned = qes.flatMap(e => Plans.scans(e.executedPlan))
              .map(_.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
            val wb = tracer.workOf(s"$key/build")
            val we = tracer.workOf(s"$key/exec")
            val add = Seq((q1 - q0) / 1e9, planMs / 1e3, (q2 - q1) / 1e9 - planMs / 1e3,
              wb.jobs.get.toDouble, we.jobs.get.toDouble,
              (wb.tasks.get + we.tasks.get).toDouble,
              (wb.serialStages.get + we.serialStages.get).toDouble,
              (wb.shuffleBytes.get + we.shuffleBytes.get) / 1e6,
              scanned / 1e6,
              (wb.spillBytes.get + we.spillBytes.get) / 1e6, b.toDouble, s.toDouble)
            add.indices.foreach(i => sums(i) += add(i))
          }
        } catch {
          case e: Throwable =>
            failedQ += q
            failures += s"$q: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        }
        attempted += 1
        hygiene()
      }
      passWall += Util.secs(p0)
      Util.log(f"pass $pass: " + names.map(q => f"$q ${perQuery.get(q).map(_.last).getOrElse(0.0)}%.0f").mkString(" ") + " ms")
      perPass += sums
      pass += 1
    }
    measured = Util.secs(t0)
  }

  /** The pass wall as `wall_s`, and (when the queries are the run's
   * only operations) per-query latency and rate; query layers when
   * traced; the oracle SQL the Python side checks the results with. */
  def report(r: RunResult, queryLatency: Boolean): Unit = {
    val passes = passWall.length
    r.attempted += attempted
    r.failed += failures.length
    r.failures ++= failures
    if (queryLatency) {
      r.e2e.put("latency_p50_ms", Stats.median(queryMs.toSeq), "ms", queryMs.length)
      r.e2e.put("latency_p90_ms", Stats.pct(queryMs.toSeq, 0.9), "ms", queryMs.length)
      r.e2e.put("throughput_per_s", attempted / measured, "1/s", attempted.toInt)
    }
    r.e2e.put("wall_s", Stats.median(passWall.toSeq), "s", passes)
    if (tracer.enabled) {
      layerNames.indices.foreach { i =>
        r.layers.put(layerNames(i), Stats.median(perPass.map(_(i)).toSeq), layerUnits(i), passes)
      }
      r.layers.put("stage.staged_mb_peak", stagedPeak / 1e6, "MB")
    }
    // some oracles embed constants fitted on the data (generated here)
    val oracles = SparkEntry.oracleSql ++
      (if (names.forall(SparkEntry.oracleSql.contains)) Map.empty[String, String]
       else SparkEntry.dynamicOracleSql(spark, dir))
    names.foreach(q => oracles.get(q).foreach(sql => r.checks += (s"oracle:$q" -> sql)))
    r.checks += ("executions_per_query" -> passes.toString)
    perQuery.foreach { case (q, ms) => r.checks += (s"median_ms:$q" -> Stats.median(ms.toSeq).toString) }
  }
}

object Queries {

  /** The BI path: a recorded subset of the 62 telemetry and
   * TPC-H-shaped queries (families a, j, o, p, q, s, w, x) sized so
   * that one pass fits a run; the reason for each is in
   * perfbench/DESIGN.md. */
  val Bi: Seq[String] = Seq(
    "q1_pricing_summary", "q5_supplier_volume", "j1_broadcast_enrich",
    "a1_last_status", "x10_oee")

  /** The corpus path, a recorded subset of the 102 corpus queries that
   * fits one run; the reason for each is in perfbench/DESIGN.md. */
  val Corpus: Seq[String] = Seq(
    "d9_decontaminate", "d11_bloom_decontaminate", "t18_ngram_novelty",
    "r7_bm25_prf", "e12_knn_graph_canonical")
}
