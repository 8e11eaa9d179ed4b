package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one key (an operation, a micro-batch, or the whole run) cost in
  * each layer. Filled only in traced runs.
  */
final class Counters {
  var queries, jobs, stages, tasks = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L
  var peakExecMem = 0L
  var blocksWritten, blockBytes = 0L
  var bhj, smj = 0L
  var compiles = 0L
  var compileMs = 0.0

  def add(o: Counters): Unit = {
    queries += o.queries; jobs += o.jobs; stages += o.stages; tasks += o.tasks
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    blocksWritten += o.blocksWritten; blockBytes += o.blockBytes
    bhj += o.bhj; smj += o.smj; compiles += o.compiles; compileMs += o.compileMs
  }
}

/** One traced interval. `parent` is -1 for the workload span; `op` is the
  * id of the operation the span belongs to.
  */
case class Span(id: Int, parent: Int, kind: String, name: String, op: String,
    startMs: Long, endMs: Long)

case class Timed[A](value: A, wallS: Double, span: Span)

/** Storage held by persisted or checkpointed RDD blocks. */
case class Storage(blocks: Long, bytes: Long) {
  /** What this snapshot holds above `base`; blocks freed since count as 0. */
  def above(base: Storage): Storage =
    Storage(math.max(0L, blocks - base.blocks), math.max(0L, bytes - base.bytes))
}

object Storage {
  def snapshot(spark: SparkSession): Storage = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Storage(infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum)
  }
}

/** Operation spans (always recorded; they are the benchmark's own clock
  * reads) plus, when `traced`, Spark listeners that attribute jobs,
  * stages, tasks, planning, codegen and block writes to the operation
  * that caused them. Listener events are delivered asynchronously, so the
  * recorder drains the listener bus at every operation boundary.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  @volatile private var current = Tracer.Setup
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var blocksSinceProgress = 0L
  /** Per SQL execution: the key it ran under and its latest physical plan. */
  private val plans = mutable.LinkedHashMap.empty[Long, (String, SparkPlanInfo)]

  /** Per micro-batch key: the RDD blocks held when its progress event was
    * delivered, and the blocks written since the previous batch's event.
    */
  val batchStorage = mutable.HashMap.empty[String, (Storage, Long)]

  val byKey = mutable.LinkedHashMap.empty[String, Counters]
  private case class JobRec(id: Int, key: String, start: Long, var end: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private case class StageRec(id: Int, job: Int, start: Long, end: Long, tasks: Int)
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val compileEvents = mutable.ArrayBuffer.empty[Long]

  private def counters(key: String): Counters = byKey.getOrElseUpdate(key, new Counters)

  /** Everything charged to operations: the measured region, without the
    * set-up and the benchmark's own checks.
    */
  def measured: Counters = synchronized {
    val c = new Counters
    def inOp(k: String) = k != Tracer.Setup && k != Tracer.Bench
    byKey.foreach { case (k, v) => if (inOp(k)) c.add(v) }
    plans.values.foreach { case (k, p) =>
      if (inOp(k)) { val (b, m) = Tracer.joinCounts(p); c.bhj += b; c.smj += m }
    }
    c
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      // Only one streaming query runs at a time, inside the operation
      // `current`; its micro-batch jobs carry their batch id.
      val key = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(b => Tracer.batchKey(current, b.toLong)).getOrElse(current)
      jobs(e.jobId) = JobRec(e.jobId, key, e.time, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      counters(key).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val job = stageJob.getOrElse(i.stageId, -1)
        stages += StageRec(i.stageId, job, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.numTasks)
        counters(keyOfStage(i.stageId)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val c = counters(keyOfStage(e.stageId))
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      val size = b.memSize + b.diskSize
      if (b.blockId.isRDD && b.storageLevel.isValid && size > 0) {
        blocksSinceProgress += 1
        val c = counters(current)
        c.blocksWritten += 1
        c.blockBytes += size
      }
    }
    // Progress events share this queue with the block updates, so the
    // blocks counted since the last one were written by this micro-batch.
    // The storage snapshot is taken on delivery, a moment after the batch
    // ended (unpersisting an RDD posts no block event to count down).
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent =>
        Tracer.this.synchronized {
          batchStorage(Tracer.batchKey(current, p.progress.batchId)) =
            (Storage.snapshot(spark), blocksSinceProgress)
          blocksSinceProgress = 0
        }
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        plans(x.executionId) = (current, x.sparkPlanInfo)
      }
      case x: SparkListenerSQLAdaptiveExecutionUpdate => Tracer.this.synchronized {
        plans.get(x.executionId).foreach { case (k, _) => plans(x.executionId) = (k, x.sparkPlanInfo) }
      }
      case _ =>
    }
  }

  private def keyOfStage(stage: Int): String =
    stageJob.get(stage).flatMap(jobs.get).map(_.key).getOrElse(current)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val c = counters(current)
        c.queries += 1
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every class Janino compiles logs "Code generated in <ms> ms" from
    * the CodeGenerator logger; the event time attributes the compile to
    * the span that contains it.
    */
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      if (e.getMessage.getFormattedMessage.startsWith("Code generated in "))
        Tracer.this.synchronized(compileEvents += e.getTimeMillis)
    }
  }

  if (traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    appender.start()
    Configurator.setLevel(codegenLogger, Level.INFO)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = ctx.getConfiguration.getLoggerConfig(codegenLogger)
    lc.addAppender(appender, Level.INFO, null)
    lc.setAdditive(false)
    ctx.updateLoggers()
  }

  def stop(): Unit = if (traced) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getLoggerConfig(codegenLogger).removeAppender(appender.getName)
    Configurator.setLevel(codegenLogger, Level.ERROR)
    appender.stop()
  }

  def drain(): Unit = if (traced) org.apache.spark.PerfbenchAccess.drainListeners(sc)

  /** Open a span now; [[close]] sets its end. */
  def open(kind: String, name: String, op: String, parent: Int): Int = synchronized {
    val id = spans.size
    val now = System.currentTimeMillis()
    spans += Span(id, parent, kind, name, op, now, now)
    id
  }

  def close(id: Int): Span = synchronized {
    spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
    spans(id)
  }

  /** Record a span measured elsewhere (a micro-batch, from its progress). */
  def add(kind: String, name: String, op: String, parent: Int,
      startMs: Long, endMs: Long): Span = synchronized {
    spans += Span(spans.size, parent, kind, name, op, startMs, endMs)
    spans.last
  }

  /** Run `body` as operation `op`: its jobs, tasks, plans and block writes
    * are charged to `op`. Returns the result, the wall seconds and the
    * operation's span.
    */
  def op[A](kind: String, op: String, parent: Int)(body: => A): Timed[A] = {
    drain()
    current = op
    val id = open(kind, op, op, parent)
    val n0 = System.nanoTime()
    val (c0, ms0) = (Tracer.compileCount, Tracer.compileMs)
    val r = try body finally {
      drain()
      if (traced) synchronized {
        val c = counters(op)
        c.compiles += Tracer.compileCount - c0
        c.compileMs += Tracer.compileMs - ms0
      }
      current = Tracer.Bench
    }
    val wall = (System.nanoTime() - n0) / 1e9
    Timed(r, wall, close(id))
  }

  /** Classes compiled with a log time inside `[startMs, endMs]`. */
  def compilesIn(startMs: Long, endMs: Long): Int = synchronized {
    compileEvents.count(t => t >= startMs && t <= endMs)
  }

  /** Jobs charged to `key`, as (start, end) intervals. */
  def jobsOf(key: String): Seq[(Long, Long)] = synchronized {
    jobs.values.filter(_.key == key).map(j => (j.start, j.end)).toSeq
  }

  /** Span duration minus the part of it covered by its jobs: the time the
    * driver spent on the operation with no Spark job running.
    */
  def selfMs(key: String, startMs: Long, endMs: Long): Long =
    (endMs - startMs) - Tracer.covered(jobsOf(key), startMs, endMs)

  /** All spans, with one child span per job (parent: the span of the key
    * the job was charged to) and per stage (parent: its job).
    */
  def allSpans(spanOfKey: String => Option[Int]): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span] ++ spans
    val jobSpan = mutable.HashMap.empty[Int, Int]
    jobs.values.foreach { j =>
      val id = out.size
      out += Span(id, spanOfKey(j.key).getOrElse(0), "job", s"job ${j.id}", j.key,
        j.start, j.end)
      jobSpan(j.id) = id
    }
    stages.foreach { s =>
      val id = out.size
      val parent = jobSpan.getOrElse(s.job, 0)
      out += Span(id, parent, "stage", s"stage ${s.id} (${s.tasks} tasks)",
        out(parent).op, s.start, s.end)
    }
    out.toSeq
  }
}

object Tracer {
  val Setup = "setup"
  val Bench = "bench"
  /** Classes compiled so far in this JVM (Spark's CodegenMetrics). */
  def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  def batchKey(loop: String, batch: Long): String = s"$loop/b$batch"

  /** Length of the union of `intervals`, clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var sum = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) sum += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) sum += curB - curA
    sum
  }

  /** Broadcast-hash and sort-merge joins in an executed plan's tree, as
    * SQL execution events report it (through AQE stages).
    */
  def joinCounts(p: SparkPlanInfo): (Long, Long) =
    p.children.map(joinCounts).foldLeft(p.nodeName match {
      case "BroadcastHashJoin" => (1L, 0L)
      case "SortMergeJoin"     => (0L, 1L)
      case _                   => (0L, 0L)
    }) { case ((a, b), (c, d)) => (a + c, b + d) }
}
