package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans around the benchmark's calls into each layer: name, start, end and
  * the enclosing span. Kept in memory and written with the record at the
  * end. A span opened with a `tag` also tags the Spark jobs it starts (a
  * thread-local Spark property), so listener counters split by phase.
  * Disabled, it runs the body and records nothing.
  */
final class Spans(enabled: Boolean, spark: SparkSession) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L)

  private val origin = System.nanoTime()
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, stack.headOption.fold(-1)(_.id), name,
        System.nanoTime(), System.currentTimeMillis())
      all += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prior = sc.getLocalProperty(Spans.PhaseKey)
      if (tag.nonEmpty) sc.setLocalProperty(Spans.PhaseKey, tag)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        if (tag.nonEmpty) sc.setLocalProperty(Spans.PhaseKey, prior)
      }
    }

  /** Durations in seconds of every closed span called `name`. */
  def seconds(name: String): Seq[Double] =
    all.toSeq.filter(s => s.name == name && s.endNs > 0)
      .map(s => (s.endNs - s.startNs) / 1e9)

  /** Wall-clock windows [startMs, endMs] of the spans whose name starts
    * with `prefix`.
    */
  def windows(prefix: String): Seq[(Long, Long)] =
    all.toSeq.filter(s => s.name.startsWith(prefix) && s.endNs > 0)
      .map(s => (s.startMs, s.endMs))

  /** Every span, in the order it was opened, for the record. */
  def records: Seq[Map[String, Any]] = all.toSeq.map { s =>
    scala.collection.immutable.ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9)
  }
}

object Spans {
  val PhaseKey = "perfbench.phase"
}

/** Per-phase totals from Spark's own listeners: a SparkListener for jobs,
  * stages and task metrics, a QueryExecutionListener for the planning
  * phases of `QueryExecution.tracker`, and a StreamingQueryListener for
  * micro-batch durations. Callbacks arrive on Spark's listener bus; call
  * `drain` before reading.
  */
final class Listeners(spark: SparkSession) {
  final class Acc {
    var jobs, stages, tasks, taskFailures = 0L
    var runMs, gcMs, schedMs = 0L
    var shuffleRead, shuffleWrite, spill, recordsRead = 0L
    val taskSeconds = mutable.ArrayBuffer.empty[Double]
  }

  private val byPhase = mutable.Map.empty[String, Acc]
  private val stagePhase = mutable.Map.empty[Int, String]
  // (end of the query's last planning phase in epoch ms, planning seconds)
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  // (addBatch, queryPlanning, walCommit) seconds per micro-batch
  private val batches = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  private def acc(phase: String): Acc = byPhase.getOrElseUpdate(phase, new Acc)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Listeners.this.synchronized {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.PhaseKey)))
        .getOrElse("untagged")
      acc(phase).jobs += 1
      e.stageIds.foreach(stagePhase(_) = phase)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Listeners.this.synchronized {
        acc(stagePhase.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Listeners.this.synchronized {
      val a = acc(stagePhase.getOrElse(e.stageId, "untagged"))
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.taskFailures += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
        // the scheduler-delay formula of Spark's own UI
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
      a.taskSeconds += info.duration / 1e3
    }
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Listeners.this.synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans += ((phases.map(_.endTimeMs).max, phases.map(_.durationMs).sum / 1e3))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def s(k: String): Double = Option(d.get(k)).fold(0.0)(_.longValue / 1e3)
      Listeners.this.synchronized {
        batches += ((s("addBatch"), s("queryPlanning"), s("walCommit")))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streams)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Forget everything seen so far (the warm-up), after draining. */
  def reset(): Unit = {
    drain()
    synchronized { byPhase.clear(); plans.clear(); batches.clear() }
  }

  def phase(name: String): Acc = synchronized(byPhase.getOrElse(name, new Acc))

  /** Planning seconds of queries whose planning ended inside a window. */
  def planSeconds(windows: Seq[(Long, Long)]): Double = synchronized {
    plans.collect { case (end, s) if windows.exists { case (a, b) =>
      end >= a && end <= b } => s }.sum
  }

  def streamBatches: Seq[(Double, Double, Double)] = synchronized(batches.toSeq)
}
