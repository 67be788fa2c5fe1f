package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters for the traced run, written once at exit.
  *
  * A span has an id, a name `<layer>.<what>`, start and end in epoch
  * milliseconds, the id of the span that caused it (or null) and numeric
  * attributes. The benchmark opens spans around its own calls into the
  * program; the three listeners it registers add the Spark jobs, the
  * micro-batches with their phases, and the Catalyst phases. With tracing
  * off nothing is registered and `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: String, name: String, start: Double, end: Double,
      parent: String, attrs: Map[String, Double])

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val costNs = new AtomicLong
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]
  private val epochMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Epoch milliseconds with nanoTime resolution. */
  def now(): Double = epochMs + System.nanoTime() / 1e6
  def toEpochMs(nanoTime: Long): Double = epochMs + nanoTime / 1e6

  /** Runs tracer bookkeeping, adding its time to the tracing cost. */
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally costNs.addAndGet(System.nanoTime() - t0)
  }

  private def put(name: String, start: Double, end: Double, parent: String,
      attrs: Map[String, Double], id: String): Unit =
    spans.add(Span(Option(id).getOrElse("s" + ids.incrementAndGet()), name, start, end, parent, attrs))

  private def bump(key: String, v: Double): Unit =
    counts.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  /** A root span the caller timed itself. */
  def add(name: String, start: Double, end: Double): Unit =
    if (enabled) timed(put(name, start, end, null, Map.empty, null))

  def counters: Map[String, Double] = counts.asScala.map { case (k, v) => k -> v.sum() }.toMap

  /** Runs `body` inside a span; Spark jobs it submits from this thread get
    * the span as parent. */
  def span[T](spark: SparkSession, name: String, attrs: Map[String, Double] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val (id, outer, start) = timed {
        val id = "s" + ids.incrementAndGet()
        val outer = sc.getLocalProperty(Tracer.ParentKey)
        sc.setLocalProperty(Tracer.ParentKey, id)
        (id, outer, now())
      }
      try body
      finally timed {
        val end = now()
        sc.setLocalProperty(Tracer.ParentKey, outer)
        put(name, start, end, outer, attrs, id)
      }
    }

  /** Registers the three listeners on a fresh session. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new JobListener)
    spark.streams.addListener(new ProgressListener)
    spark.listenerManager.register(new PlanListener)
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  def costMs: Double = costNs.get() / 1e6
  def spanCount: Int = spans.size

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "attrs" -> s.attrs)))
      w.newLine()
    } finally w.close()
  }

  private final class JobListener extends SparkListener {
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]
    // accumulator ids of the train tracker's "number of output rows"
    private val emitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timed {
        def walk(p: SparkPlanInfo): Unit = {
          if (p.nodeName.contains("FlatMapGroupsWithState"))
            p.metrics.filter(_.name == "number of output rows").foreach(m => emitted.add(m.accumulatorId))
          p.children.foreach(walk)
        }
        walk(s.sparkPlanInfo)
      }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      // a micro-batch's jobs name their batch; stream threads also inherit
      // the span that was open when the query started, so the batch wins
      val p = Option(e.properties)
      val parent = p.flatMap(p => for {
          q <- Option(p.getProperty("sql.streaming.queryId"))
          b <- Option(p.getProperty("streaming.sql.batchId"))
        } yield Tracer.batchId(q, b.toLong))
        .orElse(p.flatMap(p => Option(p.getProperty(Tracer.ParentKey))))
        .orNull
      starts.put(e.jobId, (e.time.toDouble, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val s = starts.remove(e.jobId)
      if (s != null) put("spark.job", s._1, e.time.toDouble, s._2, Map.empty, null)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed(bump("spark.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) timed {
      val m = e.taskMetrics
      bump("spark.tasks", 1)
      bump("spark.task_ms", m.executorRunTime.toDouble)
      bump("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      e.taskInfo.accumulables.foreach { a =>
        if (emitted.contains(a.id)) a.update.foreach(u => bump("positions.emitted", u.toString.toDouble))
      }
    }
  }

  private final class ProgressListener extends StreamingQueryListener {
    // runId -> start time, until that run's first data batch completes
    private val started = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Double]
    override def onQueryStarted(e: QueryStartedEvent): Unit = timed {
      started.put(e.runId, Instant.parse(e.timestamp).toEpochMilli.toDouble: java.lang.Double)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      if (p.numInputRows > 0 && d.contains("addBatch")) {
        val q = Tracer.shortName(p.name)
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        val total = d.getOrElse("triggerExecution", 0.0)
        val ops = p.stateOperators
        val id = Tracer.batchId(p.id.toString, p.batchId)
        put(s"streaming.$q.batch", start, start + total, null, Map(
          "rows_in" -> p.numInputRows.toDouble,
          "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum), id)
        // phases laid end to end in MicroBatchExecution's order
        var t = start
        for ((phase, layer) <- Tracer.Phases; ms <- d.get(phase)) {
          put(s"$layer.$q.$phase", t, t + ms, id, Map.empty, null)
          t += ms
        }
        Option(started.remove(p.runId)).foreach(s =>
          put(s"streaming.$q.recover", s.doubleValue, start + total, null, Map.empty, null))
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private final class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      qe.tracker.phases.foreach { case (phase, s) =>
        if (phase != "parsing")
          put(s"plans.$phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble, null, Map.empty, null)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(bump("plans.failures", 1))
  }
}

object Tracer {
  val ParentKey = "perfbench.span"
  /** (durationMs key, layer) in the order a micro-batch runs them. */
  val Phases = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
    "getBatch" -> "sources", "queryPlanning" -> "streaming",
    "addBatch" -> "streaming", "commitOffsets" -> "streaming")
  def batchId(queryId: String, batchId: Long): String = s"b:$queryId:$batchId"
  /** TransitPipeline's query names to the layer names the report uses. */
  def shortName(queryName: String): String = queryName match {
    case "train-positions" => "positions"
    case "turnstile-counts" => "counts"
    case "latest-weather" => "weather"
    case other => other
  }
}
