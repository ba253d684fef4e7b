package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{RunHygiene, SparkEntry}
import graft.operators.{BalanceAnalytics, FifoMatcher, Validators}
import graft.pipeline.ThrivePipeline
import graft.queries.BalanceQueries
import graft.sources.Tables
import graft.streaming.{FileReplay, StreamingFifo}

/** Benchmark program: runs one workload against the program's public entry
  * points and writes every measurement and every output the correctness
  * checks need to one JSON file. `run.py` launches it, checks the outputs
  * against the generator's invariants and prints the result line.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <out.json>
  */
object Main {

  final case class Op(ms: Double, work: Long, error: Option[String], check: Json.Obj)

  /** Everything one run measured. `latMs` are the latencies the end-to-end
    * percentiles are taken over (operations, or triggers on the replay). */
  final class Run {
    val ops = mutable.ArrayBuffer.empty[Op]
    val latMs = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val setup = mutable.LinkedHashMap.empty[String, Double]
    var wallS = 0.0
    /** Operations the engine listener was attached for. */
    var engineOps = 0
    var workDone = 0L
    var extraChecks = Json.Obj()
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Heap in use after full collections. The pauses let Spark's context
    * cleaner release what the first collection made unreachable (shuffle,
    * broadcast and checkpoint blocks) before the last one. */
  private def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300); System.gc()
    val h = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    h.getUsed / 1048576.0
  }

  /** Stable digest of collected rows, independent of row order. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(v => String.valueOf(v match {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case o => o
    })).mkString("\u0001")).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, secondsArg, traceArg, outPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(workDir).toAbsolutePath
    Files.createDirectories(work)

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.ensureConf(spark)
    val run = new Run
    run.setup("session_s") = secondsSince(tSession)

    val tracer = new Tracer(traced, s"$workload-${System.currentTimeMillis()}", spark.sparkContext)
    tracer.listen(true)
    val triggers = new TriggerListener
    spark.streams.addListener(triggers)

    val w: Workload = workload match {
      case "balance_lookups" => new BalanceLookups(spark, inputDir, work, tracer)
      case "intraday_replay" => new IntradayReplay(spark, inputDir, work, tracer, triggers)
      case "corpus_prep" => new CorpusPrep(spark, inputDir, work, tracer)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: the program's one-time load, its repeatable preparation three
    // times (median reported), then a warm-up that absorbs what is still
    // cold before timing starts
    run.setup("load_s") = timed(w.load())._2 / 1e3
    run.setup("prep_s") = median(Seq.fill(3)(timed(w.prepare())._2 / 1e3))
    val tWarm = System.nanoTime()
    tracer.quiet(w.warmUp())
    run.setup("warmup_s") = secondsSince(tWarm)
    triggers.drain()

    val engineBefore = tracer.engine.total.copy
    val t0 = System.nanoTime()
    w.measure(run, seconds)
    run.wallS = secondsSince(t0)
    tracer.listen(false)
    val engineDuring = tracer.engine.total.copy
    engineDuring.add(engineBefore, -1)
    run.workDone = run.ops.filter(_.error.isEmpty).map(_.work).sum
    run.setup("retained_heap_mb") = heapAfterGcMb()
    tracer.listen(true)
    w.finish(run)
    tracer.listen(false)

    if (traced) {
      val n = math.max(1.0, run.engineOps.toDouble)
      engineDuring.toMap.foreach { case (k, v) =>
        run.layers(s"spark.$k") = if (k == "cpu_frac") v else v / n }
    }

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql") || k == "spark.master" ||
        k.startsWith("graft.") || k == "spark.local.dir" }
    val out = Json.Obj(
      "workload" -> Json.Str(workload),
      "traced" -> Json.Bool(traced),
      "wall_s" -> Json.Num(run.wallS),
      "work_done" -> Json.Num(run.workDone.toDouble),
      "setup" -> Json.Obj(run.setup.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*),
      "lat_ms" -> Json.Arr(run.latMs.map(Json.Num(_)).toSeq: _*),
      "ops" -> Json.Arr(run.ops.map(o => Json.Obj(
        "ms" -> Json.Num(o.ms), "work" -> Json.Num(o.work.toDouble),
        "error" -> o.error.map(Json.Str(_)).getOrElse(Json.Null),
        "check" -> o.check)).toSeq: _*),
      "checks" -> run.extraChecks,
      "layers" -> Json.Obj(run.layers.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*),
      "env" -> Json.Obj(
        "spark_version" -> Json.Str(spark.version),
        "java_version" -> Json.Str(System.getProperty("java.version")),
        "heap_limit_mb" -> Json.Num(Runtime.getRuntime.maxMemory / 1048576.0),
        "cores" -> Json.Num(cores.toDouble),
        "replay_tmpdir" -> Json.Str(sys.props.getOrElse("graft.replay.tmpdir", "")),
        "session_conf" -> Json.Obj(conf.map { case (k, v) => k -> Json.Str(v) }: _*)),
      "spans" -> (if (traced) spansJson(tracer) else Json.Arr()))
    Files.writeString(Paths.get(outPath), out.render)
    spark.stop()
  }

  private def spansJson(tracer: Tracer): Json.Arr = {
    val self = tracer.selfMs
    Json.Arr(tracer.spans.map { s =>
      Json.Obj(
        "id" -> Json.Num(s.id.toDouble), "name" -> Json.Str(s.name),
        "parent" -> Json.Num(s.parent.toDouble), "run_id" -> Json.Str(tracer.runId),
        "start_ms" -> Json.Num(s.startMs), "end_ms" -> Json.Num(s.endMs),
        "self_ms" -> Json.Num(self.getOrElse(s.id, 0.0)),
        "attrs" -> Json.Obj(s.attrs.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*),
        "spark" -> Json.Obj(s.engine.toMap.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.Num(v) }: _*))
    }: _*)
  }

  // ------------------------------------------------------------------

  abstract class Workload(val spark: SparkSession, val tracer: Tracer) {
    def warmUp(): Unit
    /** The program's one-time work before the measured phase. */
    def load(): Unit = ()
    /** The program's repeatable preparation before the measured phase. */
    def prepare(): Unit = ()
    def measure(run: Run, seconds: Double): Unit
    /** Post-measurement work: outputs for the checks, derived layer metrics. */
    def finish(run: Run): Unit = ()

    /** Closed loop on one client: run `op` until `seconds` have passed. In
      * traced runs, untraced and traced operations alternate (at least one
      * of each) and the tracing overhead is the difference of their
      * medians; the engine listener is attached for traced operations only. */
    protected def loop(run: Run, seconds: Double)(op: Boolean => Op): Unit = {
      val t0 = System.nanoTime()
      val plain = mutable.ArrayBuffer.empty[Double]
      val withTrace = mutable.ArrayBuffer.empty[Double]
      var i = 0
      while (secondsSince(t0) < seconds || (tracer.enabled && i < 2)) {
        val traceThis = tracer.enabled && i % 2 == 1
        tracer.listen(traceThis)
        val o =
          try { if (traceThis) op(true) else tracer.quiet(op(false)) }
          catch { case e: Throwable => Op(0, 0, Some(e.toString), Json.Obj()) }
        if (traceThis) run.engineOps += 1
        run.ops += o
        if (o.error.isEmpty) (if (traceThis) withTrace else plain) += o.ms
        i += 1
      }
      if (tracer.enabled && withTrace.nonEmpty && plain.nonEmpty)
        run.layers("trace.overhead_ms") = median(withTrace.toSeq) - median(plain.toSeq)
    }

    /** Median over traced spans of `name`, in seconds or milliseconds. */
    protected def spanMedian(name: String, scale: Double): Double =
      median(tracer.spans.filter(_.name == name).map(_.durMs * scale))

    protected def heapLayer(run: Run): Unit =
      if (tracer.enabled) run.layers("jvm.heap_after_gc_mb") = heapAfterGcMb()
  }

  // ---- balance_lookups -----------------------------------------------

  /** One seeded lookup, as the generator wrote it to lookups.tsv. */
  final case class Lookup(idx: Int, kind: Int, customer: String, asOf: String,
      start: String, end: String, day: String, threshold: Double)

  /** Set-up is the nightly close ([[ThrivePipeline.run]]) over the ledger,
    * then the history and current balances the analysts query are built
    * from the close's staged matched ledger and persisted. The measured
    * phase is two analysts issuing the seeded Q1-Q12 mix over them. */
  final class BalanceLookups(spark: SparkSession, inputDir: String, work: Path, tracer: Tracer)
      extends Workload(spark, tracer) {
    private val clients = 2
    private val plan: IndexedSeq[Lookup] =
      Files.readAllLines(Paths.get(s"$inputDir/lookups.tsv")).asScala.toIndexedSeq.drop(1)
        .map(_.split("\t", -1)).map(f => Lookup(f(0).toInt, f(1).toInt, f(2), f(3), f(4),
          f(5), f(6), f(7).toDouble))
    private val ledger = s"$inputDir/ledger"
    private var close: Option[Op] = None
    private var history: DataFrame = _
    private var current: DataFrame = _

    private val cfg = ThrivePipeline.Config(
      stagingDir = work.resolve("staging").toString,
      outputDir = work.resolve("output").toString,
      executionDate = "20240401")

    /** The nightly close, once: the JVM's first close, as a nightly job's
      * is. Its outputs are what the analysts query. */
    override def load(): Unit = {
      val (report, ms) = timed(tracer.span("pipeline.run")(ThrivePipeline.run(spark, ledger, cfg)))
      if (tracer.enabled) tracer.spans.filter(_.name == "pipeline.run").lastOption.foreach { s =>
        report.stages.foreach(st => s.attrs(s"stage.${st.stage}_s") = st.seconds)
        s.attrs("uncovered_s") = ms / 1e3 - report.stages.map(_.seconds).sum
      }
      close = Some(Op(ms, report.totalTransactions, None, Json.Obj(
        "close" -> Json.Bool(true),
        "status" -> Json.Str(report.status),
        "total_transactions" -> Json.Num(report.totalTransactions.toDouble),
        "matching_records_count" -> Json.Num(report.matchedCount.toDouble),
        "total_earned" -> Json.Num(report.totalEarned),
        "total_spent" -> Json.Num(report.totalSpent),
        "total_expired" -> Json.Num(report.totalExpired))))
    }

    /** History and current balances rebuilt from the close's staged
      * matched ledger and persisted: the frames the lookups read. */
    override def prepare(): Unit = tracer.span("lookups.persist") {
      if (history != null) { history.unpersist(true); current.unpersist(true) }
      val matched = spark.read.parquet(s"${cfg.outputDir}/tc_data_with_redemptions.parquet")
      history = BalanceAnalytics.balanceHistory(matched).persist(StorageLevel.MEMORY_AND_DISK)
      current = BalanceAnalytics.currentBalances(history).persist(StorageLevel.MEMORY_AND_DISK)
      history.count(); current.count()
    }

    private val next = new AtomicInteger(0)

    /** `clients` closed-loop threads taking the plan's lookups in order
      * while `more()` holds. */
    private def drive(more: () => Boolean)(each: (Lookup, Int) => Unit): Unit = {
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          var n = 0
          while (more()) {
            each(plan(next.getAndIncrement() % plan.size), n)
            n += 1
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }

    /** Twelve blocks of the mix on both clients. Lookup latencies keep
      * falling for the first 10-15 s of lookups as the JIT compiles the
      * planner; with four blocks the measured phase sat on that slope and
      * the run-to-run spread of the latencies reached 0.3 on a 4-core box. */
    def warmUp(): Unit = {
      val left = new AtomicInteger(144)
      drive(() => left.getAndDecrement() > 0)((l, _) => frame(l).collect())
    }

    /** The close, layer by layer: each layer's public function is called
      * and its result forced, in the pipeline's order. Traced runs only,
      * after the measured phase. */
    private def layerSweep(): Unit = tracer.span("layers") {
      val staging = work.resolve("staging_layers/transactions.parquet").toString
      val staged = tracer.span("sources.ingest") {
        val t = Tables.transactions(spark, ledger)
        t.write.mode(SaveMode.Overwrite).partitionBy("transaction_type").parquet(staging)
        val s = spark.read.parquet(staging).select(t.columns.map(col).toIndexedSeq: _*)
        s.count()
        s
      }
      tracer.span("validators.source")(Validators.sourceQuality(staged).collect())
      val m = tracer.span("fifo.match") {
        val m = FifoMatcher.matchTransactions(staged).persist(StorageLevel.MEMORY_AND_DISK)
        m.count()
        m
      }
      tracer.span("validators.results") {
        Validators.invalidRedeemIds(m).count()
        Validators.balanceEquation(m).filter(!col("balanced")).count()
      }
      val h = tracer.span("analytics.history") {
        val h = BalanceAnalytics.balanceHistory(m).persist(StorageLevel.MEMORY_AND_DISK)
        h.count()
        h
      }
      tracer.span("analytics.report") {
        val c = BalanceAnalytics.currentBalances(h)
        BalanceAnalytics.reportSummary(m, c).collect()
        BalanceAnalytics.topBalances(c).collect()
      }
      h.unpersist(); m.unpersist()
    }

    private def frame(l: Lookup): DataFrame = l.kind match {
      case 1 => BalanceQueries.q1BalanceAsOf(history, Seq(l.customer), l.asOf)
      case 2 => BalanceQueries.q2CurrentBalance(current, Seq(l.customer))
      case 3 => BalanceQueries.q3History(history, l.customer)
      case 4 => BalanceQueries.q4MonthEnd(history, l.customer)
      case 5 => BalanceQueries.q5AboveThreshold(history, l.asOf, l.threshold)
      case 6 => BalanceQueries.q6BalanceChange(history, l.customer, l.start, l.end)
      case 7 => BalanceQueries.q7TopBalances(history, l.asOf)
      case 8 => BalanceQueries.q8ZeroBalance(history, l.asOf)
      case 9 => BalanceQueries.q9BalanceStats(history, l.asOf)
      case 10 => BalanceQueries.q10DayTransactions(history, l.customer, l.day)
      case 11 => BalanceQueries.q11DailySnapshots(history, l.customer, l.start, l.end)
      case 12 => BalanceQueries.q12NeverSpent(current)
    }

    private def cents(d: Double): Json.Num = Json.Num(math.round(d * 100).toDouble)

    /** What the checks compare for kinds the generator predicts. */
    private def summarize(l: Lookup, rows: Array[Row]): Json.Obj = {
      val base = Json.Obj("idx" -> Json.Num(l.idx.toDouble), "kind" -> Json.Num(l.kind.toDouble),
        "rows" -> Json.Num(rows.length.toDouble))
      l.kind match {
        case 1 => base + ("balances" -> Json.Arr(rows.map(r => Json.Arr(
          Json.Str(r.getString(0)), cents(r.getDouble(2)))).toSeq: _*))
        case 2 => base + ("balances" -> Json.Arr(rows.map(r => Json.Arr(
          Json.Str(r.getString(0)), cents(r.getDouble(1)), cents(r.getDouble(2)),
          cents(r.getDouble(3)), cents(r.getDouble(4)))).toSeq: _*))
        case _ => base
      }
    }

    /** One lookup, timed. Traced lookups split Catalyst planning (forcing
      * the executed plan) from execution, and note whether the plan scans
      * the persisted frames. */
    private def lookup(l: Lookup, traceThis: Boolean): Op =
      try {
        val (rows, ms) = timed {
          if (!traceThis) tracer.quiet(frame(l).collect())
          else tracer.span(f"queries.q${l.kind}%02d") {
            val df = frame(l)
            tracer.span("queries.plan")(df.queryExecution.executedPlan)
            val scansCache = df.queryExecution.withCachedData.collectFirst {
              case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
            }.isDefined
            tracer.current.foreach(_.attrs("cache_hit") = if (scansCache) 1.0 else 0.0)
            tracer.span("queries.exec")(df.collect())
          }
        }
        Op(ms, 1, None, summarize(l, rows))
      } catch { case e: Throwable => Op(0, 0, Some(e.toString), Json.Obj()) }

    /** Closed loop, `clients` threads sharing one seeded plan. In traced
      * runs each client alternates untraced and traced lookups; the engine
      * listener stays attached for both, so the overhead reported here is
      * that of the spans and job groups only. */
    def measure(run: Run, seconds: Double): Unit = {
      val t0 = System.nanoTime()
      val ops = mutable.ArrayBuffer.empty[(Op, Int, Boolean)]
      drive(() => secondsSince(t0) < seconds) { (l, n) =>
        val traceThis = tracer.enabled && n % 2 == 1
        val o = lookup(l, traceThis)
        ops.synchronized(ops += ((o, l.kind, traceThis)))
      }
      ops.foreach { case (o, _, _) => run.ops += o; if (o.error.isEmpty) run.latMs += o.ms }
      run.engineOps = ops.size
      if (tracer.enabled) {
        val ok = ops.filter(_._1.error.isEmpty)
        val (tr, pl) = ok.partition(_._3)
        if (tr.nonEmpty && pl.nonEmpty)
          run.layers("trace.overhead_ms") = median(tr.map(_._1.ms).toSeq) - median(pl.map(_._1.ms).toSeq)
        (1 to 12).foreach(k => run.layers(f"queries.q$k%02d_ms") =
          median(ok.filter(_._2 == k).map(_._1.ms).toSeq))
        run.layers("queries.plan_ms") = spanMedian("queries.plan", 1.0)
        run.layers("queries.exec_ms") = spanMedian("queries.exec", 1.0)
        val hits = tracer.spans.filter(_.name.matches("queries\\.q\\d\\d")).flatMap(_.attrs.get("cache_hit"))
        run.layers("queries.cache_hit_frac") = if (hits.isEmpty) 0.0 else hits.sum / hits.size
      }
    }

    override def finish(run: Run): Unit = {
      run.ops ++= close
      if (tracer.enabled) {
        layerSweep()
        Seq("sources.ingest", "validators.source", "fifo.match", "validators.results",
          "analytics.history", "analytics.report")
          .foreach(n => run.layers(s"${n}_s") = spanMedian(n, 1e-3))
        val runs = tracer.spans.filter(_.name == "pipeline.run")
        Seq("ingest", "validate_source", "fifo_match", "validate_results", "build_analytics")
          .foreach(st => run.layers(s"pipeline.stage.${st}_s") =
            median(runs.flatMap(_.attrs.get(s"stage.${st}_s"))))
        run.layers("pipeline.uncovered_s") = median(runs.flatMap(_.attrs.get("uncovered_s")))
        run.layers("lookups.persist_s") = spanMedian("lookups.persist", 1e-3)
        heapLayer(run)
      }
    }
  }

  // ---- intraday_replay -----------------------------------------------

  final class IntradayReplay(spark: SparkSession, inputDir: String, work: Path, tracer: Tracer,
      triggers: TriggerListener) extends Workload(spark, tracer) {
    /** Triggers per replay: enough for a trigger latency distribution from
      * one replay per run. */
    private val batches = 16
    private def txns(dir: String) = Tables.transactions(spark, dir)
    /** Matched-pair count and an order-independent digest of the pairs. */
    private def pairs(df: DataFrame): (Long, String) = {
      val r = df.filter(col("REDEEMID").isNotNull)
        .agg(count(lit(1)), sum(xxhash64(col("TRANS_ID"), col("REDEEMID")).cast("decimal(38,0)")))
        .head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    private val perTrigger = mutable.ArrayBuffer.empty[Trigger]
    private val firstTriggers = mutable.ArrayBuffer.empty[Long]
    private lazy val n = txns(s"$inputDir/ledger").count()

    /** A replay of a quarter-sized ledger in a quarter of the triggers: a
      * JVM's first replay runs its triggers markedly slower, and plans
      * depend on the rows per trigger, which this keeps equal to the
      * measured replay's. */
    def warmUp(): Unit = {
      pairs(StreamingFifo.replayLedger(txns(s"$inputDir/warmup"), batches / 4))
      RunHygiene.drainStages(spark)
      n
    }

    def measure(run: Run, seconds: Double): Unit = {
      val ledger = txns(s"$inputDir/ledger")
      loop(run, seconds) { traceThis =>
        val (res, ms) = timed {
          if (!traceThis) pairs(StreamingFifo.replayLedger(ledger, batches))
          else tracer.span("replay") {
            val out = tracer.span("replay.stream")(StreamingFifo.replayLedger(ledger, batches))
            tracer.span("replay.readback")(pairs(out))
          }
        }
        RunHygiene.drainStages(spark)
        org.apache.spark.BusDrain.waitUntilEmpty(spark.sparkContext)
        val trig = triggers.drain().sortBy(_.startEpochMs)
        // a replay's first trigger also starts the query and its state
        // store; it is reported on its own (trigger.first_ms), so the
        // percentiles describe the steady per-trigger cost
        run.latMs ++= trig.drop(1).flatMap(_.durations.get("triggerExecution")).map(_.toDouble)
        if (traceThis) firstTriggers ++= trig.take(1).flatMap(_.durations.get("triggerExecution"))
        if (traceThis) {
          val parent = tracer.spans.filter(_.name == "replay.stream").last
          trig.foreach { t =>
            val s = tracer.record("trigger", parent, tracer.sinceStart(t.startEpochMs),
              t.durations.getOrElse("triggerExecution", 0L).toDouble)
            t.durations.foreach { case (k, v) => s.attrs(k) = v.toDouble }
          }
          perTrigger ++= trig
        }
        Op(ms, n, None, Json.Obj("matched" -> Json.Num(res._1.toDouble),
          "pair_hash" -> Json.Str(res._2)))
      }
    }

    override def finish(run: Run): Unit = {
      val ledger = txns(s"$inputDir/ledger")
      val (m, h) = pairs(FifoMatcher.matchTransactions(ledger))
      run.extraChecks = Json.Obj("batch_matched" -> Json.Num(m.toDouble),
        "batch_pair_hash" -> Json.Str(h))
      if (tracer.enabled) {
        // FileReplay's staging on its own, timed from outside
        tracer.span("replay.stage")(FileReplay.stageChunks(
          ledger.select("transaction_id", "customer_id", "amount", "timestamp", "transaction_type"),
          "timestamp", batches))
        RunHygiene.drainStages(spark)
        run.layers("replay.stage_s") = spanMedian("replay.stage", 1e-3)
        run.layers("replay.stream_s") = spanMedian("replay.stream", 1e-3)
        run.layers("replay.readback_s") = spanMedian("replay.readback", 1e-3)
        def phase(k: String) = median(perTrigger.toSeq.map(_.durations.getOrElse(k, 0L).toDouble))
        Seq("latestOffset" -> "latest_offset", "queryPlanning" -> "planning",
          "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
          "commitOffsets" -> "commit_offsets").foreach { case (k, n) =>
          run.layers(s"trigger.${n}_ms") = phase(k) }
        run.layers("trigger.first_ms") = median(firstTriggers.toSeq.map(_.toDouble))
        run.layers("trigger.uncovered_ms") = median(perTrigger.toSeq.map(t =>
          (t.durations.getOrElse("triggerExecution", 0L) -
            t.durations.filter(_._1 != "triggerExecution").values.sum).toDouble))
        run.layers("trigger.tasks") =
          tracer.engine.streaming.tasks.toDouble / math.max(1, perTrigger.size)
        run.layers("state.commit_ms") = median(perTrigger.toSeq.map(_.stateCommitMs.toDouble))
        run.layers("state.rows_total") = perTrigger.lastOption.map(_.stateRows.toDouble).getOrElse(0.0)
        run.layers("state.memory_mb") =
          perTrigger.lastOption.map(_.stateMemBytes / 1048576.0).getOrElse(0.0)
        heapLayer(run)
      }
    }
  }

  // ---- corpus_prep ---------------------------------------------------

  final class CorpusPrep(spark: SparkSession, inputDir: String, work: Path, tracer: Tracer)
      extends Workload(spark, tracer) {
    private val gates = Seq("dedup_clusters", "ann_ivf_topk", "ann_recall_eval",
      "curation_pipeline_v5")
    /** The seven ANN ranker gates. Each returns one of the session's shared
      * ranking frames, building it on first use. */
    private val rankers = Seq("ann_cosine_topk", "ann_ivf_topk", "ann_lsh_topk",
      "ann_matryoshka_topk", "ann_pq_topk", "ann_sq_topk", "ann_bq_topk")
    private val registry =
      SparkEntry.queries.filter(e => gates.contains(e._1) || rankers.contains(e._1))
    private val copies = new AtomicInteger(0)
    private val heaps = mutable.ArrayBuffer.empty[Double]
    private lazy val docs = spark.read.parquet(s"$inputDir/corpus/documents.parquet").count()

    /** A fresh input directory per operation: the session memos are keyed
      * by directory, so every operation builds them anew. */
    private def freshCopy(from: String): String = {
      val dir = work.resolve(s"corpus_${copies.getAndIncrement()}")
      Files.createDirectories(dir)
      Seq("documents.parquet", "embeddings.parquet").foreach(f =>
        Files.copy(Paths.get(from, f), dir.resolve(f), StandardCopyOption.REPLACE_EXISTING))
      dir.toString
    }

    private def prep(dir: String): Map[String, Array[Row]] = {
      tracer.span("shared.curation")(SparkEntry.materializeCurationShared(spark, dir))
      tracer.span("shared.dedup")(SparkEntry.materializeDedupShared(spark, dir))
      // The ranking frames are filled one gate at a time, not by
      // materializeAnnShared: that hook builds them concurrently, and the
      // IVF and PQ builds race on the session-wide `ivf_scores` kernel
      // binding, so under load the PQ and IVF rankings (and the recall
      // audit over them) differ from one operation to the next.
      tracer.span("shared.ann")(rankers.foreach(g => registry(g)(spark, dir)))
      gates.map { g =>
        val rows = tracer.span(s"gates.$g")(registry(g)(spark, dir).collect())
        RunHygiene.drainStages(spark)
        g -> rows
      }.toMap
    }

    def warmUp(): Unit = prep(freshCopy(s"$inputDir/warmup"))

    def measure(run: Run, seconds: Double): Unit = loop(run, seconds) { traceThis =>
      val dir = freshCopy(s"$inputDir/corpus")
      val (rows, ms) = timed(if (traceThis) tracer.span("corpus.op")(prep(dir)) else prep(dir))
      run.latMs += ms
      if (traceThis) heaps += heapAfterGcMb()
      Op(ms, docs, None, Json.Obj(gates.map(g => g -> Json.Obj(
        "rows" -> Json.Num(rows(g).length.toDouble), "digest" -> Json.Str(digest(rows(g))))): _*))
    }

    override def finish(run: Run): Unit = if (tracer.enabled) {
      Seq("curation", "dedup", "ann").foreach(n =>
        run.layers(s"shared.${n}_s") = spanMedian(s"shared.$n", 1e-3))
      gates.foreach(g => run.layers(s"gates.${g}_s") = spanMedian(s"gates.$g", 1e-3))
      run.layers("jvm.heap_after_gc_mb") = heaps.lastOption.getOrElse(heapAfterGcMb())
    }
  }
}
