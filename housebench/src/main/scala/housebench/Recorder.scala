package housebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one job group, summed from task-end and job events. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  /** task run times (ms) per stage, for the skew ratio */
  val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def add(o: GroupCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max / median task time of the stage where that ratio is largest
    * (stages with at least 4 tasks); 1.0 when no stage qualifies */
  def skew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 4).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Physical-operator totals taken from the SQLMetrics of executed plans. */
final class PhysicalCounters {
  var exchangeBytes = 0L
  var sortNs = 0L
  var aggNs = 0L
  var joinNs = 0L
  var peakMemBytes = 0L
  var queries = 0L

  def add(o: PhysicalCounters): Unit = {
    exchangeBytes += o.exchangeBytes; sortNs += o.sortNs; aggNs += o.aggNs
    joinNs += o.joinNs; peakMemBytes = math.max(peakMemBytes, o.peakMemBytes)
    queries += o.queries
  }
}

final class StreamCounters {
  var batches = 0L
  var batchMs = 0L
  var commitMs = 0L
  var stateRows = 0L

  def add(o: StreamCounters): Unit = {
    batches += o.batches; batchMs += o.batchMs; commitMs += o.commitMs
    stateRows += o.stateRows
  }
}

/** Listener-side counters of one run. Spark job/task counts are keyed
  * by job group, which the harness sets to the open span's id. The
  * query-execution and streaming listeners carry no job group, so their
  * events are buffered and claimed by the span that closes after the
  * listener bus has drained (the harness drives one action at a time).
  *
  * `full = false` keeps only the cheap task-end record/byte counts the
  * end-to-end metrics need; `full = true` (the traced run) also records
  * plans and streaming progress.
  */
final class Recorder(spark: SparkSession, full: Boolean) {
  private val groups = mutable.Map.empty[String, GroupCounters]
  private val pendingPhysical = new PhysicalCounters
  private val pendingStream = new StreamCounters
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val g = groupOf(e.properties)
      val c = groups.getOrElseUpdate(g, new GroupCounters)
      c.jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
      groups.getOrElseUpdate(g, new GroupCounters).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val g = stageGroup.getOrElse(e.stageId, "")
        val c = groups.getOrElseUpdate(g, new GroupCounters)
        c.tasks += 1
        c.recordsRead += m.inputMetrics.recordsRead
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
        if (full) {
          c.executorCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty) += m.executorRunTime
        }
      }
    }
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case c: org.apache.spark.sql.execution.CommandResultExec => unwrap(c.commandPhysicalPlan)
    case other => other
  }

  private def walk(p: SparkPlan, acc: PhysicalCounters): Unit = {
    val node = unwrap(p)
    val cls = node.getClass.getSimpleName
    if (cls.contains("ShuffleExchange")) acc.exchangeBytes += metric(node, "dataSize")
    if (cls == "SortExec") acc.sortNs += metric(node, "sortTime") * 1000000L
    if (cls.endsWith("AggregateExec")) acc.aggNs += metric(node, "aggTime") * 1000000L
    if (cls.contains("Join")) acc.joinNs += metric(node, "buildTime") * 1000000L
    if (cls.contains("BroadcastExchange")) acc.joinNs += metric(node, "buildTime") * 1000000L
    acc.peakMemBytes = math.max(acc.peakMemBytes, metric(node, "peakMemory"))
    node.children.foreach(walk(_, acc))
    node.subqueries.foreach(walk(_, acc))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val acc = new PhysicalCounters
      try walk(qe.executedPlan, acc) catch { case _: Throwable => () }
      acc.queries = 1
      Recorder.this.synchronized(pendingPhysical.add(acc))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Recorder.this.synchronized {
        pendingStream.batches += 1
        pendingStream.batchMs += d("triggerExecution")
        pendingStream.commitMs += d("commitOffsets") + d("walCommit")
        pendingStream.stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  if (full) {
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.HousebenchBridge.drainListeners(spark.sparkContext)

  def group(id: String): GroupCounters = synchronized {
    val c = new GroupCounters
    groups.get(id).foreach(c.add)
    c
  }

  /** Claim the plan and streaming records buffered since the last claim. */
  def claim(): (PhysicalCounters, StreamCounters) = synchronized {
    val p = new PhysicalCounters; p.add(pendingPhysical)
    val s = new StreamCounters; s.add(pendingStream)
    pendingPhysical.exchangeBytes = 0; pendingPhysical.sortNs = 0; pendingPhysical.aggNs = 0
    pendingPhysical.joinNs = 0; pendingPhysical.peakMemBytes = 0; pendingPhysical.queries = 0
    pendingStream.batches = 0; pendingStream.batchMs = 0; pendingStream.commitMs = 0
    pendingStream.stateRows = 0
    (p, s)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    if (full) {
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }
}

/** One recorded span: a call from the harness into a layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long,
    counters: GroupCounters, physical: PhysicalCounters, stream: StreamCounters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span tree around the harness's calls into each layer.
  * Every span sets the Spark job group to its own id, so listener
  * counts land on the span that issued the work, and restores the
  * parent's group on exit. Only the traced run (`enabled`) drains the
  * listener bus at span boundaries to claim plan and streaming records;
  * the untraced run fills job counts once per pass, after its timer.
  */
final class Tracer(spark: SparkSession, recorder: Recorder, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = stack.headOption
    if (enabled) { recorder.drain(); recorder.claim() } // earlier records are the parent's
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1), name, System.nanoTime(), 0L,
      null, null, null)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      if (enabled) {
        recorder.drain()
        val (p, st) = recorder.claim()
        spans(s.id) = s.copy(counters = recorder.group(s"span-${s.id}"), physical = p, stream = st)
      }
      stack = stack.tail
      parent match {
        case Some(ps) => sc.setJobGroup(s"span-${ps.id}", ps.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attach job counts to spans that closed without them (call after
    * a drain). */
  def fill(): Unit = spans.indices.foreach { i =>
    val s = spans(i)
    if (s.counters == null || s.physical == null)
      spans(i) = s.copy(counters = recorder.group(s"span-${s.id}"),
        physical = Option(s.physical).getOrElse(new PhysicalCounters),
        stream = Option(s.stream).getOrElse(new StreamCounters))
  }

  /** Duration minus the time covered by direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Counters of a span and all its descendants. */
  def subtree(s: Span): (GroupCounters, PhysicalCounters, StreamCounters) = {
    val g = new GroupCounters; val p = new PhysicalCounters; val st = new StreamCounters
    def go(x: Span): Unit = {
      g.add(x.counters); p.add(x.physical); st.add(x.stream)
      spans.filter(_.parent == x.id).foreach(go)
    }
    go(s)
    (g, p, st)
  }

  def toJson: String = spans.map { s =>
    val self = selfSeconds(s)
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},"self_s":$self}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Stack sampler of the traced run: every `intervalMs` it looks at the
  * running executor task threads and counts, per native kernel, the
  * samples whose stack is inside that kernel's `graft.plans` code. The
  * kernels are fused into generated code, so their share of executor
  * time can only be seen this way. */
final class KernelSampler(intervalMs: Long = 20L) {
  private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile private var running = true

  private val kinds: Seq[(String, String)] = Seq(
    "Md5" -> "md5_fast", "WordWindows" -> "word_windows", "SimHash" -> "simhash64",
    "MisraGries" -> "mg_topk", "Mg" -> "mg_topk", "Hll" -> "hll_distinct",
    "QuantileSketch" -> "qsketch")

  private def kernelOf(st: Array[StackTraceElement]): Option[String] =
    st.iterator.map(_.getClassName).find(_.startsWith("graft.plans.")).map { c =>
      val simple = c.stripPrefix("graft.plans.")
      kinds.collectFirst { case (p, k) if simple.startsWith(p) => k }.getOrElse("other")
    }

  private val thread = new Thread(() => {
    while (running) {
      val samples = Thread.getAllStackTraces.asScala.toSeq.collect {
        case (t, st) if t.getName.startsWith("Executor task launch") &&
          t.getState == Thread.State.RUNNABLE => kernelOf(st)
      }
      synchronized {
        counts("total") += samples.size
        samples.flatten.foreach(k => counts(k) += 1)
      }
      Thread.sleep(intervalMs)
    }
  }, "housebench-kernel-sampler")
  thread.setDaemon(true)
  thread.start()

  def snapshot(): Map[String, Long] = synchronized(counts.toMap)

  def stop(): Unit = { running = false; thread.join() }
}
