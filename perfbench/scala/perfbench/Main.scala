package perfbench

import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark: runs one workload against the program's public
  * entry points and writes what it observed to `<work>/raw.json` (plus
  * `<work>/spans.jsonl` when tracing). `run.py` turns that into metrics.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work> <data>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, data) = args
    val run = new Run(seed.toLong, seconds.toDouble, trace == "1", Paths.get(work), data)
    workload match {
      case "transit_live" => TransitBench.live(run)
      case "batch_sf0.01" => BatchBench.run(run)
      case other => sys.error(s"unknown workload $other")
    }
    run.finish()
  }
}

/** One benchmark run: its parameters, the session factory, the tracer and
  * the raw record that `run.py` reads. */
final class Run(val seed: Long, val seconds: Double, trace: Boolean, val work: Path, val data: String) {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
  val tracer = new Tracer(trace)
  val raw = mutable.LinkedHashMap.empty[String, Any]
  /** Every nanoTime in raw.json is relative to this. */
  val origin: Long = System.nanoTime()
  raw("cpus") = cpus.toInt
  private var active: SparkSession = _

  def spark: SparkSession = active

  /** A progress line in the JVM log, stamped with seconds since start. */
  def log(msg: String): Unit = println(f"[perfbench] ${(System.nanoTime() - origin) / 1e9}%7.2f s $msg")

  /** A new session, with the listeners attached when tracing. Local and
    * warehouse dirs stay inside the work dir. */
  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tracer.attach(s)
    active = s
    s
  }

  /** Set-up time: builds the workload `reps` times, each time from a new
    * session until `ready` returns, and keeps the last build. Records every
    * sample; run.py reports their median. */
  def setUp[T](reps: Int)(ready: SparkSession => T)(tearDown: T => Unit): T = {
    val samples = mutable.Buffer.empty[Double]
    var kept: Option[T] = None
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val s = newSession()
      val h = tracer.span(s, "setup.ready")(ready(s))
      samples += (System.nanoTime() - t0) / 1e9
      log(f"set-up $i: ${samples.last}%.2f s")
      if (i < reps) { tearDown(h); s.stop() } else kept = Some(h)
    }
    raw("setup_s") = samples.toSeq
    kept.get
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Driver heap still live after full collections, in MiB. */
  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Marks the start of the measured window. */
  def windowStart(): Unit = {
    raw("window_start_ms") = tracer.now()
    raw("counters_start") = tracer.counters
  }

  /** Layer counters from the listeners, drained first; empty untraced. */
  def counters(): Map[String, Double] = {
    tracer.drain(spark)
    tracer.counters
  }

  def finish(): Unit = {
    if (trace) {
      tracer.drain(spark)
      raw("counters_end") = tracer.counters
      raw("trace_cost_ms") = tracer.costMs
      raw("spans") = tracer.spanCount
      tracer.write(work.resolve("spans.jsonl"))
    }
    Files.writeString(work.resolve("raw.json"), Json.obj(raw.toSeq))
    spark.stop()
  }
}

/** Just enough JSON for numbers, strings, flags, sequences and maps. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case a: Array[_] => value(a.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
