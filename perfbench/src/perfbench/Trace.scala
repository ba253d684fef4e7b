package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark engine counters for one span (or a whole workload). */
final class EngineCounters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L

  def add(o: EngineCounters, sign: Long = 1): Unit = {
    jobs += sign * o.jobs; tasks += sign * o.tasks; runMs += sign * o.runMs
    cpuNs += sign * o.cpuNs; schedDelayMs += sign * o.schedDelayMs
    shuffleWriteBytes += sign * o.shuffleWriteBytes
    spillBytes += sign * o.spillBytes; gcMs += sign * o.gcMs
  }

  def copy: EngineCounters = { val c = new EngineCounters; c.add(this); c }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble,
    "executor_run_s" -> runMs / 1e3,
    "executor_cpu_s" -> cpuNs / 1e9,
    "cpu_frac" -> (if (runMs > 0) cpuNs / 1e6 / runMs else 0.0),
    "sched_delay_s" -> schedDelayMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0,
    "gc_s" -> gcMs / 1e3)
}

/** One timed interval around a call into the program. Times are
  * milliseconds since the tracer started. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
    var endMs: Double = Double.NaN) {
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val engine = new EngineCounters
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. When disabled, [[span]] only runs its body:
  * no job group is set and nothing is recorded, so the untraced runs carry
  * none of the tracing cost.
  *
  * Each span sets the Spark job group `perfbench-span-<id>` on the calling
  * thread, so [[EngineListener]] can charge every job's tasks to the span
  * that submitted it. Jobs whose group names no open span (streaming
  * micro-batches, pool threads of the program) are charged to the
  * innermost open span of the thread that opened the most recent span. */
final class Tracer(val enabled: Boolean, val runId: String, sc: SparkContext) {
  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e6
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  @volatile private var lastOpened: Option[Span] = None
  private val muted = new ThreadLocal[Boolean] { override def initialValue = false }

  val engine = new EngineListener(this)
  @volatile private var attached = false
  /** Attach or detach the engine listener (traced runs only). Detaching
    * first drains the listener bus so no event of a traced call is lost. */
  def listen(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) sc.addSparkListener(engine)
    else { org.apache.spark.BusDrain.waitUntilEmpty(sc); sc.removeSparkListener(engine) }
    attached = on
  }

  def spans: Seq[Span] = all.synchronized(all.toList)

  /** Run `body` on this thread without recording spans. */
  def quiet[T](body: => T): T = {
    val prev = muted.get()
    muted.set(true)
    try body finally muted.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled || muted.get()) body
    else {
      val parentStack = stack.get()
      val s = all.synchronized {
        val sp = Span(all.size, name, parentStack.headOption.map(_.id).getOrElse(-1), now)
        all += sp
        sp
      }
      byId.put(s.id, s)
      stack.set(s :: parentStack)
      lastOpened = Some(s)
      sc.setJobGroup(s"perfbench-span-${s.id}", name)
      try body
      finally {
        s.endMs = now
        stack.set(parentStack)
        parentStack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-span-${p.id}", p.name); lastOpened = Some(p)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record a finished interval that was measured elsewhere (a streaming
    * trigger reported by the engine) as a child of `parent`. */
  def record(name: String, parent: Span, startMs: Double, durMs: Double): Span =
    all.synchronized {
      val sp = Span(all.size, name, parent.id, startMs, startMs + durMs)
      all += sp
      sp
    }

  def current: Option[Span] = Option(stack.get()).flatMap(_.headOption)

  /** The span a job of group `group` belongs to. */
  def owner(group: String): Option[Span] = {
    val byGroup = Option(group).filter(_.startsWith("perfbench-span-"))
      .flatMap(g => Option(byId.get(g.stripPrefix("perfbench-span-").toInt)))
      .filter(_.endMs.isNaN)
    byGroup.orElse(lastOpened.filter(_.endMs.isNaN))
  }

  /** Milliseconds since this tracer started, for an epoch-millis instant. */
  def sinceStart(epochMs: Long): Double =
    epochMs - (System.currentTimeMillis() - now)

  /** Self time of every span: its duration minus the union of its
    * children's intervals. */
  def selfMs: Map[Int, Double] = {
    val ss = spans
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0
      var (lo, hi) = (Double.NaN, Double.NaN)
      ivs.foreach { case (a, b) =>
        if (hi.isNaN || a > hi) { if (!hi.isNaN) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (!hi.isNaN) covered += hi - lo
      s.id -> (s.durMs - covered)
    }.toMap
  }
}

/** Benchmark-owned Spark listener: charges job, task and stage counters to
  * the span that owns each job, and keeps a workload total. */
final class EngineListener(tracer: Tracer) extends SparkListener {
  val total = new EngineCounters
  /** The share of [[total]] run by streaming micro-batches. */
  val streaming = new EngineCounters
  private val stageOwner = new ConcurrentHashMap[Int, Span]()
  private val streamStages = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val owner = tracer.owner(props.map(_.getProperty("spark.jobGroup.id")).orNull)
    val isStream = props.exists(_.getProperty("sql.streaming.queryId") != null)
    total.jobs += 1
    if (isStream) { streaming.jobs += 1; e.stageIds.foreach(id => streamStages.add(id)) }
    owner.foreach { s =>
      s.engine.jobs += 1
      e.stageIds.foreach(id => stageOwner.put(id, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = new EngineCounters
      c.tasks = 1
      c.runMs = m.executorRunTime
      c.cpuNs = m.executorCpuTime
      c.schedDelayMs = math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      c.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs = m.jvmGCTime
      total.add(c)
      if (streamStages.contains(e.stageId)) streaming.add(c)
      Option(stageOwner.get(e.stageId)).foreach(_.engine.add(c))
    }
  }
}

/** One micro-batch as the streaming engine reported it. */
final case class Trigger(startEpochMs: Long, durations: Map[String, Long],
    stateCommitMs: Long, stateRows: Long, stateMemBytes: Long, inputRows: Long)

/** Collects every micro-batch's progress. Registered in both modes: the
  * per-trigger latency is an end-to-end metric of the replay workload and
  * is only observable through the engine's own progress reports. */
final class TriggerListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Trigger]
  def drain(): Seq[Trigger] = synchronized { val r = buf.toList; buf.clear(); r }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val t = Trigger(
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum, p.numInputRows)
    synchronized(buf += t)
  }
}
