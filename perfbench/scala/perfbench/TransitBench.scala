package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.schemas.Transit._
import graft.serving.Dashboard
import graft.sources.TransitData
import graft.streaming.TransitPipeline

/** `transit_live`: simulator -> parquet drop dirs -> TransitPipeline
  * (default Config) -> Dashboard, as an open loop. One simulated tick is due
  * every [[TickMs]] and is moved into the input dirs when due, whatever the
  * pipeline is doing; each (tick, view) sample is timed from its due time
  * until the Dashboard shows it.
  */
object TransitBench {
  /** 50x the reference's tick rate (one 5-minute tick per 5 s), ~2k ev/s. */
  val TickMs = 100L
  /** Ticks released on schedule before the measured window: latency keeps
    * falling for the first ~10 s of a run while the JIT warms up. */
  val WarmupTicks = 120
  /** The dashboard's freshness bound (the reference's 10 s meta refresh). */
  val LimitMs = 10000L
  val SetupReps = 3
  val Views = Seq("counts", "platforms", "weather")
  private val Topics = Seq("arrivals", "turnstile", "weather")

  final case class Tick(arrivals: Seq[Arrival], turnstiles: Seq[TurnstileEvent],
      weather: Option[WeatherReading])

  /** What the benchmark keeps of the feed once it is staged, per tick: the
    * event objects themselves are dropped so they do not count as live heap. */
  final class Feed(ticks: IndexedSeq[Tick]) {
    val size: Int = ticks.size
    val ts: Array[Long] = ticks.map(_.arrivals.head.timestamp).toArray
    val cumTurnstiles: Array[Long] = ticks.scanLeft(0L)(_ + _.turnstiles.size).tail.toArray
    /** Reading timestamp, or Long.MinValue for a tick without one. */
    val weatherTs: Array[Long] = ticks.map(_.weather.fold(Long.MinValue)(_.timestamp)).toArray
    val events: Array[Int] = ticks.map(t => t.arrivals.size + t.turnstiles.size + t.weather.size).toArray
    /** Change events the train tracker is fed: an arrive, plus a depart when
      * the train has a previous platform. */
    val changeEvents: Array[Int] =
      ticks.map(_.arrivals.map(a => if (a.prev_station_id.isDefined) 2 else 1).sum).toArray
  }

  /** The seeded feed, built by the program's loaders and Simulator. */
  private def simulate(run: Run, spark: SparkSession, n: Int): IndexedSeq[Tick] = {
    def load[T](f: => T): T = run.tracer.span(spark, "sources.load")(f)
    val stations = load(TransitData.stations(spark, run.data))
    val rides = load(TransitData.ridershipSeed(spark, run.data))
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    val curve = load(TransitData.ridershipCurve(spark, run.data))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val sim = graft.sim.Simulator.fromStations(stations, rides, curve, seed = run.seed)
    IndexedSeq.fill(n) {
      val w = sim.maybeWeather()
      val t = sim.stepTurnstiles()
      Tick(sim.stepArrivals(), t, w)
    }
  }

  private val Schemas: Map[String, MessageType] = Map(
    "arrivals" -> """message arrival { required int64 timestamp; required int32 station_id;
      required binary train_id (UTF8); required binary direction (UTF8); required binary line (UTF8);
      required binary train_status (UTF8); optional int32 prev_station_id;
      optional binary prev_direction (UTF8); }""",
    "turnstile" -> """message turnstile { required int64 timestamp; required int32 station_id;
      required binary station_name (UTF8); required binary line (UTF8); }""",
    "weather" -> """message weather { required int64 timestamp; required float temperature;
      required binary status (UTF8); }""").map { case (k, v) => k -> MessageTypeParser.parseMessageType(v) }

  /** Simulates `n` ticks on a session of its own and writes each as one
    * parquet file per topic, outside any timed region; returns the feed and
    * topic -> tick -> file. */
  private def stage(run: Run, n: Int): (Feed, Map[String, Map[Int, Path]]) = {
    val spark = run.newSession()
    val ticks = simulate(run, spark, n)
    spark.stop()
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    val files = Topics.map { topic =>
      val dir = Files.createDirectories(run.work.resolve("stage").resolve(topic))
      val rows = new SimpleGroupFactory(Schemas(topic))
      topic -> ticks.indices.flatMap { i =>
        val t = ticks(i)
        val gs: Seq[Group] = topic match {
          case "arrivals" => t.arrivals.map { a =>
            val r = rows.newGroup().append("timestamp", a.timestamp).append("station_id", a.station_id)
              .append("train_id", a.train_id).append("direction", a.direction).append("line", a.line)
              .append("train_status", a.train_status)
            a.prev_station_id.foreach(r.append("prev_station_id", _))
            a.prev_direction.foreach(r.append("prev_direction", _))
            r
          }
          case "turnstile" => t.turnstiles.map(e => rows.newGroup().append("timestamp", e.timestamp)
            .append("station_id", e.station_id).append("station_name", e.station_name).append("line", e.line))
          case _ => t.weather.toSeq.map(w => rows.newGroup().append("timestamp", w.timestamp)
            .append("temperature", w.temperature).append("status", w.status))
        }
        if (gs.isEmpty) None
        else {
          val file = dir.resolve(f"t$i%06d.parquet")
          val w = ExampleParquetWriter.builder(new HPath(file.toUri)).withType(Schemas(topic))
            .withConf(conf).build()
          try gs.foreach(w.write) finally w.close()
          Some(i -> file)
        }
      }.toMap
    }.toMap
    (new Feed(ticks), files)
  }

  /** One running pipeline and the dirs it reads. */
  final class Pipeline(val dash: Dashboard, val cfg: TransitPipeline.Config, var queries: Seq[StreamingQuery]) {
    /** Files moved into the input dirs since the measured window began. */
    var landed = 0
    def dir(topic: String): Path = java.nio.file.Paths.get(topic match {
      case "arrivals" => cfg.arrivalsDir
      case "turnstile" => cfg.turnstileDir
      case _ => cfg.weatherDir
    })
    def stop(): Unit = queries.foreach(_.stop())
  }

  /** Moves (or, for set-up copies, copies) tick i's files into the input
    * dirs; each file appears atomically. */
  private def land(p: Pipeline, files: Map[String, Map[Int, Path]], i: Int, copy: Boolean = false): Unit =
    for (topic <- Topics; src <- files(topic).get(i)) {
      val dst = p.dir(topic).resolve(src.getFileName)
      if (copy) {
        val tmp = p.dir(topic).getParent.resolve(s".${topic}_$i.tmp")
        Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      } else {
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        p.landed += 1
      }
    }

  /** When each tick first showed in each view of the dashboard. */
  final class Visibility(dash: Dashboard, feed: Feed) {
    private val (cum, ts, wts) = (feed.cumTurnstiles, feed.ts, feed.weatherTs)
    val seen: Array[Array[Long]] = Array.fill(Views.size, feed.size)(Long.MinValue)
    private val next = Array.fill(Views.size)(0)

    def poll(): Unit = synchronized {
      val now = System.nanoTime()
      val counts = dash.counts.readOnlySnapshot().values.sum
      val plat = dash.platforms.readOnlySnapshot().values.foldLeft(Long.MinValue)(_ max _.updated)
      val w = dash.weather.fold(Long.MinValue)(_.timestamp)
      def advance(v: Int, shown: Int => Boolean): Unit =
        while (next(v) < feed.size && shown(next(v))) { seen(v)(next(v)) = now; next(v) += 1 }
      advance(0, i => counts >= cum(i))
      advance(1, i => plat >= ts(i))
      advance(2, i => wts(i) == Long.MinValue || w >= wts(i))
    }
    def shown(upTo: Int): Boolean = synchronized(next.forall(_ > upTo))
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Background poller of the dashboard views, every millisecond. */
  private final class Poller(vis: Visibility) {
    @volatile private var on = true
    private val thread = daemon("perfbench-poller") {
      while (on) { vis.poll(); LockSupport.parkNanos(1000000L) }
    }
    def stop(): Unit = { on = false; thread.join() }
  }

  /** One closed-loop HTTP reader of `Dashboard.serve`: a request, then a
    * 10 ms pause, again. Keeps (start ns, latency ns, ok) per request. */
  private final class Reader(run: Run, port: Int) {
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Boolean)]
    @volatile private var on = true
    private val url = new java.net.URL(s"http://127.0.0.1:$port/")
    private val thread = daemon("perfbench-reader") {
      while (on) {
        val t0 = System.nanoTime()
        val ok = try {
          val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
          val body = try new String(c.getInputStream.readAllBytes(), "UTF-8") finally c.disconnect()
          c.getResponseCode == 200 && body.contains("Transit Status")
        } catch { case _: java.io.IOException => false }
        val t1 = System.nanoTime()
        samples.add((t0, t1 - t0, ok))
        run.tracer.add("serving.render", run.tracer.toEpochMs(t0), run.tracer.toEpochMs(t1))
        LockSupport.parkNanos(10000000L)
      }
    }
    def stop(): Unit = { on = false; thread.join() }
  }

  private def waitUntil(deadlineNs: Long)(done: => Boolean): Boolean = {
    while (!done && System.nanoTime() < deadlineNs) LockSupport.parkNanos(1000000L)
    done
  }

  /** Set-up: a new session, the dashboard's stations, the pipeline started
    * on dirs holding tick 0, ready once every view shows tick 0. */
  private def setUp(run: Run, feed: Feed, files: Map[String, Map[Int, Path]]): Pipeline = {
    var rep = 0
    run.setUp(SetupReps) { spark =>
      import spark.implicits._
      rep += 1
      val root = run.work.resolve(s"pipeline$rep")
      Topics.foreach(t => Files.createDirectories(root.resolve(t)))
      val stations = run.tracer.span(spark, "sources.load")(TransitData.stations(spark, run.data))
      val dash = new Dashboard
      dash.upsertStations(graft.operators.Transit.transformStations(stations)
        .dropDuplicates("station_id").as[TransformedStation])
      val cfg = TransitPipeline.Config(root.resolve("arrivals").toString,
        root.resolve("turnstile").toString, root.resolve("weather").toString,
        root.resolve("chk").toString)
      val p = new Pipeline(dash, cfg, Nil)
      land(p, files, 0, copy = true)
      p.queries = run.tracer.span(spark, "operators.construct")(TransitPipeline.start(spark, cfg, dash))
      val vis = new Visibility(dash, feed)
      if (!waitUntil(System.nanoTime() + 120L * 1000000000L) { vis.poll(); vis.shown(0) })
        sys.error("pipeline did not show tick 0 within 120 s")
      p
    }(_.stop())
  }

  /** The dashboard against the batch operators over the same event log;
    * returns view -> mismatch ("" when equal). */
  private def check(spark: SparkSession, p: Pipeline): Map[String, String] = {
    import spark.implicits._
    def read[T <: Product : scala.reflect.runtime.universe.TypeTag](topic: String) =
      spark.read.schema(Encoders.product[T].schema).parquet(p.dir(topic).toString)
    val counts = graft.operators.Transit.turnstileSummary(read[TurnstileEvent]("turnstile"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val platforms = graft.operators.Transit.trainPositions(read[Arrival]("arrivals"))
      .as[PlatformState].collect().map(s => (s.station_id, s.direction) -> s).toMap
    val weather = graft.operators.Transit.latestWeather(read[WeatherReading]("weather"))
      .as[WeatherReading].collect().headOption
    def diff[K, V](exp: Map[K, V], got: Map[K, V]): String =
      if (exp == got) ""
      else {
        val keys = (exp.keySet ++ got.keySet).filter(k => exp.get(k) != got.get(k))
        s"${keys.size} keys differ, e.g. ${keys.head}: expected ${exp.get(keys.head)}, shown ${got.get(keys.head)}"
      }
    Map(
      "counts" -> diff(counts, p.dash.counts.toMap),
      "platforms" -> diff(platforms, p.dash.platforms.toMap),
      "weather" -> (if (weather == p.dash.weather) "" else s"expected $weather, shown ${p.dash.weather}"))
  }

  def live(run: Run): Unit = {
    val measured = math.round(run.seconds * 1000 / TickMs).toInt
    val n = 1 + WarmupTicks + measured
    val (feed, files) = stage(run, n)
    run.log("staged")
    val p = setUp(run, feed, files)
    val vis = new Visibility(p.dash, feed)
    val poller = new Poller(vis)
    val server = Dashboard.serve(p.dash, 0)
    val reader = new Reader(run, server.getAddress.getPort)
    val first = 1 + WarmupTicks
    val due = new Array[Long](n)
    val t0 = System.nanoTime() + 20000000L
    var gc0 = 0.0
    val late = mutable.Buffer.empty[Double]
    for (i <- 1 until n) {
      due(i) = t0 + (i - 1) * TickMs * 1000000L
      while (System.nanoTime() < due(i)) LockSupport.parkNanos(due(i) - System.nanoTime())
      if (i == first) { gc0 = run.gcSeconds; run.windowStart(); p.landed = 0 }
      land(p, files, i)
      val released = System.nanoTime()
      if (i >= first) late += (released - due(i)) / 1e6
      run.tracer.add("gen.release", run.tracer.toEpochMs(due(i)), run.tracer.toEpochMs(released))
    }
    waitUntil(due(n - 1) + LimitMs * 1000000L)(vis.shown(n - 1))
    val end = System.nanoTime()
    run.log("measured")
    reader.stop(); server.stop(0); poller.stop()

    val r = run.raw
    def rel(t: Long): Option[Long] = if (t == Long.MinValue) None else Some(t - run.origin)
    r("first") = first
    r("due_ns") = due.toSeq.map(d => rel(if (d == 0L) Long.MinValue else d))
    r("seen_ns") = Views.zip(vis.seen.map(_.toSeq.map(rel))).toMap
    r("late_ms") = late
    r("files_landed") = p.landed
    r("has_weather") = feed.weatherTs.map(_ != Long.MinValue)
    r("events") = feed.events
    r("limit_ms") = LimitMs
    r("window_s") = (end - due(first)) / 1e9
    r("gc_s") = run.gcSeconds - gc0
    r("counters_window") = run.counters()
    val rs = reader.samples.asScala.filter(_._1 >= due(first)).toSeq
    r("render_ms") = rs.filter(_._3).map(_._2 / 1e6)
    r("render_errors") = rs.count(!_._3)
    r("fed_change_events") = feed.changeEvents
    p.stop()
    r("check") = check(run.spark, p)
    r("heap_live_mb") = run.heapLiveMb()
    run.log("checked")
  }
}
