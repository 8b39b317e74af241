package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.json4s._

import graft.rules.{Catalog, Rule, RuleEngine, RuleTracer, StreamDef}
import graft.sinks.{FileSink, MemorySink, NopSink, Sink}
import graft.sources.{NexmarkSource, Source}

/** One rule of the stream workload. `timeCol` names the output column
  * that carries the newest contributing event time: the event's own
  * `ts`, or the window end for window rules.
  */
final case class RuleSpec(id: String, stream: String, sql: String, timeCol: String, sink: String)

/** A delivered micro-batch, seen by the benchmark's sink wrapper. */
final case class Delivery(obs: Observation, deliverNs: Long, returnedMs: Long)

/** Benchmark-owned [[Sink]] wrapper: times the wrapped `writeBatch` and
  * hangs an observation on the delivered frame, so the same job reports
  * the rows, their fingerprint and the newest event time.
  */
final class TimedSink(inner: Sink, timeCol: String) extends Sink {
  def options: Map[String, String] = inner.options
  val deliveries = new ConcurrentLinkedQueue[Delivery]()

  def writeBatch(df: DataFrame): Unit = {
    val obs = new Observation()
    val tapped = Content.observed(df, obs, extra = Seq(max(unix_millis(col(timeCol))).as("newest")))
    val t0 = System.nanoTime()
    inner.writeBatch(tapped)
    val ms = System.currentTimeMillis()
    deliveries.add(Delivery(obs, System.nanoTime() - t0, ms))
  }
}

/** Batch source over a fixed frame: the events a stream consumed. */
final case class FrameSource(df: DataFrame) extends Source {
  def batch(spark: SparkSession): DataFrame = df
  def stream(spark: SparkSession): DataFrame = throw new UnsupportedOperationException("batch only")
}

/** Batch sink that fingerprints the rule's result, with an optional
  * filter (window rules: only windows the stream had closed).
  */
final class FingerprintSink(filter: Option[String]) extends Sink {
  def options: Map[String, String] = Map.empty
  @volatile var result: Option[Fingerprint] = None
  def writeBatch(df: DataFrame): Unit =
    result = Some(Content.of(filter.fold(df)(df.where)))
}

/** Outcome of one rule over one phase. */
final case class RuleRun(spec: RuleSpec, firstDeliveryMs: Double,
                         progress: Seq[StreamingQueryProgress], deliveries: Seq[Delivery],
                         latencies: Seq[Double], lagMs: Seq[Double], lagGrowth: Option[Double])

/** The end of a phase's measured span: wall clock, and the JVM's GC and
  * codegen counters at that moment.
  */
final case class Mark(ms: Long, gcMs: Long, codegenNs: Long)

object Mark {
  def now(): Mark = Mark(System.currentTimeMillis(), Recorder.gcMs(), Recorder.codegenNs())
}

/** The stream workload: four Nexmark rules through [[RuleEngine]] with
  * `streaming = true`, each over its own rate-driven Nexmark bid stream
  * (open loop: events are stamped with their creation time and arrive
  * whether or not the rules keep up). A reference phase at a fixed rate
  * gives latency and batch cost; short ladder steps at higher offered
  * rates find the highest offered rate every rule sustains.
  */
object Rules {
  /** Events per second per stream; powers of two times 1000 keep the
    * rate source's per-event timestamps exact, which the batch check
    * relies on. Timed runs stay at the reference rate; the traced run
    * also climbs the ladder above it.
    */
  val ReferenceRate = 8000L
  val Ladder = Seq(64000L, 512000L, 4096000L)
  /** Latency limit for a ladder step to pass (p90 of delivery latency). */
  val LatencyLimitMs = 10000.0
  /** A step fails when source lag grows faster than this (ms per s). */
  val LagGrowthLimit = 250.0
  val Auctions = 997L

  val specs = Seq(
    RuleSpec("r_select", "bids_sel",
      "SELECT auction, bidder, price, round(price * 0.908, 2) AS price_eur, channel, ts " +
        "FROM bids_sel WHERE auction % 10 = 3 OR price > 9500", "ts", "file"),
    RuleSpec("r_tumble", "bids_tum",
      "SELECT auction, count(*) AS bids, max(price) AS max_price, window_end() AS wend " +
        "FROM bids_tum GROUP BY auction, TUMBLINGWINDOW(ss, 1)", "wend", "nop"),
    RuleSpec("r_hot", "bids_hot",
      "SELECT auction, count(*) AS bids, max(price) AS top_price, window_end() AS wend " +
        "FROM bids_hot GROUP BY auction, HOPPINGWINDOW(ss, 2, 1) HAVING max(price) > 9000", "wend", "memory"),
    RuleSpec("r_join", "bids_join",
      "SELECT b.auction, b.price, a.item_name, a.category, b.ts FROM bids_join b " +
        "JOIN auctions a ON b.auction = a.id WHERE b.price > a.reserve", "ts", "nop"))

  private def register(catalog: Catalog, rate: Long): Unit = {
    specs.foreach { s =>
      val windowed = s.timeCol == "wend"
      catalog.register(StreamDef(s.stream, NexmarkSource("bid", rowsPerSecond = rate),
        timestampCol = Some("ts"), watermark = if (windowed) Some("1 second") else None, typ = "nexmark"))
    }
    catalog.register(StreamDef("auctions", NexmarkSource("auction", count = Auctions), isTable = true, typ = "nexmark"))
  }

  private def setUp(o: Opts, cores: Int): (SparkSession, RuleEngine) = {
    val spark = Main.session(o, cores)
    val catalog = new Catalog
    register(catalog, ReferenceRate)
    (spark, new RuleEngine(spark, catalog))
  }

  private def sinkFor(o: Opts, s: RuleSpec, phase: String): Sink = s.sink match {
    case "file" => FileSink(s"${o.work}/sinks/$phase/${s.id}", "json")
    case "memory" => MemorySink(s"perfbench_${phase}_${s.id}")
    case _ => NopSink()
  }

  /** Rows consumed so far by a rate-source query, from its end offset (whole seconds). */
  private def endSeconds(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(0L)

  private def executed(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)

  private def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Creation time of a rate source, kept in the query's checkpoint. */
  private def creationMs(ckpt: String): Long = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$ckpt/0/sources/0/0")).asScala
    lines.last.trim.toLong
  }

  /** Run every rule at `rate` for `seconds` after they have all started,
    * then stop them and read back their progress. With `full`
    * each rule's deliveries are checked against its batch evaluation;
    * otherwise only that every micro-batch was delivered. Returns each
    * rule's run and check outcome, and the end of the measured span, which
    * comes before the stop and the checks.
    */
  def phase(o: Opts, spark: SparkSession, engine: RuleEngine, order: Seq[RuleSpec],
            rate: Long, seconds: Double, name: String, startNs: scala.collection.mutable.Map[String, Long],
            full: Boolean): (Seq[(RuleRun, String)], Mark) = {
    register(engine.catalog, rate)
    val taps = order.map { s =>
      val tap = new TimedSink(sinkFor(o, s, name), s.timeCol)
      val ckpt = s"${o.work}/ckpt/$name/${s.id}"
      engine.create(Rule(s"${s.id}_$name", s.sql, Seq(tap), streaming = true, checkpointDir = Some(ckpt)))
      s -> (tap, ckpt)
    }.toMap
    val launched = order.map { s =>
      val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
      engine.start(s"${s.id}_$name")
      startNs(s.id) = System.nanoTime() - t0
      s.id -> w0
    }.toMap
    val until = System.nanoTime() + (seconds * 1e9).toLong
    // wait for every rule's first delivery, then the measured span
    while (System.nanoTime() < until || taps.values.exists(_._1.deliveries.isEmpty)) Thread.sleep(50)
    val end = Mark.now()
    val queries = order.map(s => s -> spark.streams.active.find(_.name == s"${s.id}_${name}_0").get)
    // the checked phase stops between micro-batches, so the last progress
    // covers every delivery; a ladder step stops at once, and a batch cut
    // short there counts neither as progress nor as a delivery
    queries.foreach { case (_, q) =>
      val deadline = System.nanoTime() + (if (full) 3000000000L else 0L)
      while (q.status.isTriggerActive && System.nanoTime() < deadline) Thread.sleep(5)
      q.stop()
    }
    val runs = order.map { s =>
      val q = queries.find(_._1 == s).get._2
      val (tap, ckpt) = taps(s)
      val prog = executed(q)
      engine.delete(s"${s.id}_$name")
      val ds = tap.deliveries.asScala.toSeq.take(prog.lastOption.map(_.batchId.toInt + 1).getOrElse(0))
      val creation = creationMs(ckpt)
      val lat = ds.flatMap { d =>
        val m = d.obs.get
        if (m("rows").asInstanceOf[Long] > 0) Some(d.returnedMs - m("newest").asInstanceOf[Long].toDouble) else None
      }
      val lag = prog.map(p => startMs(p) + ms(p, "triggerExecution") - (creation + endSeconds(p) * 1000))
      // lag growth in ms per s: the least-squares slope of lag over batch
      // start time, leaving out the first batch, which drains the backlog
      // that built up while the rule started; None when fewer than three
      // batches followed it
      val growth = Stats.slope(prog.map(startMs(_) / 1000.0).zip(lag).drop(1))
      val first = ds.headOption.map(d => (d.returnedMs - launched(s.id)).toDouble).getOrElse(0.0)
      (RuleRun(s, first, prog, ds, lat, lag, growth), creation)
    }.map { case (r, creation) =>
      // the batch checks are independent Spark jobs: run them side by side
      val check = scala.concurrent.Future {
        if (full) verify(spark, r.spec, rate, creation, r.progress, r.deliveries)
        else if (r.progress.nonEmpty && r.deliveries.size == r.progress.last.batchId + 1) ""
        else s"${r.deliveries.size} deliveries for ${r.progress.lastOption.map(_.batchId + 1).getOrElse(0)} batches"
      }(scala.concurrent.ExecutionContext.global)
      (r, check)
    }.map { case (r, f) => (r, scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)) }
    (runs, end)
  }

  /** Micro-batch times per rule after its first data batch, which also
    * drains the backlog that built up while the rule started.
    */
  private def warmBatches(runs: Seq[RuleRun]): Seq[Seq[Double]] =
    runs.map(r => r.progress.filter(_.numInputRows > 0).drop(1).map(ms(_, "triggerExecution")))

  private def warmSeconds(runs: Seq[RuleRun]): Double = warmBatches(runs).map(b => Stats.median(b)).sum / 1e3

  /** The rule's SQL in batch mode over exactly the events the stream
    * consumed, fingerprinted; "" when it matches what was delivered.
    */
  private def verify(spark: SparkSession, s: RuleSpec, rate: Long, creation: Long,
                     prog: Seq[StreamingQueryProgress], ds: Seq[Delivery]): String = {
    if (prog.isEmpty) return "no batch ran"
    if (ds.size != prog.last.batchId + 1) return s"${ds.size} deliveries for ${prog.last.batchId + 1} batches"
    val n = endSeconds(prog.last) * rate
    // the batch generator stamps event i at 1700000000000 + 100 i ms; the
    // stream stamped it at creation + round(i * 1000 / rate)
    val events = NexmarkSource("bid", count = n).batch(spark)
      .withColumn("ts", timestamp_millis(lit(creation) +
        floor((unix_millis(col("ts")) - lit(1700000000000L)) / 100 * 1000.0 / rate + 0.5).cast("long")))
    val catalog = new Catalog
    catalog.register(StreamDef(s.stream, FrameSource(events), timestampCol = Some("ts")))
    catalog.register(StreamDef("auctions", NexmarkSource("auction", count = Auctions), isTable = true))
    val watermark = Option(prog.last.eventTime.get("watermark"))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
    val sink = new FingerprintSink(
      if (s.timeCol == "wend") Some(s"unix_millis(wend) <= $watermark") else None)
    val engine = new RuleEngine(spark, catalog)
    try {
      engine.create(Rule(s"${s.id}_check", s.sql, Seq(sink)))
      engine.start(s"${s.id}_check")
    } finally engine.close()
    val got = ds.map(d => Content.read(d.obs)).foldLeft(Fingerprint(0, 0))(Content.combine)
    val want = sink.result.getOrElse(Fingerprint(-1, -1))
    if (got == want) "" else s"delivered rows ${got.rows} hash ${got.hash}, batch rows ${want.rows} hash ${want.hash}"
  }

  def run(o: Opts, res: Result): Unit = {
    val order = new scala.util.Random(o.seed).shuffle(specs)
    var (spark, engine) = Main.setUpRepeated(o, res)(() => setUp(o, Main.Cores)) { case (s, e) =>
      e.close(); Main.stopSession(s)
    }
    val rec = if (o.trace) Some(new Recorder(spark)) else None
    rec.foreach(_.attach())
    val traces = new ConcurrentLinkedQueue[JValue]()
    val tracer = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        traces.add(RuleTracer.fromProgress(e.progress).toJson)
    }
    if (o.trace) spark.streams.addListener(tracer)

    val refSeconds = if (o.smoke) 3.0 else o.seconds * 0.7
    // fixed, not a share of --seconds: a ladder step needs about eight
    // batches per rule to tell lag growth from the rate source's 1 s steps
    val stepSeconds = if (o.smoke) 2.0 else 8.0
    val startNs = scala.collection.mutable.Map[String, Long]()
    val gc0 = Recorder.gcMs(); val cg0 = Recorder.codegenNs()
    val w0 = System.currentTimeMillis()
    val (ref, end) = phase(o, spark, engine, order, ReferenceRate, refSeconds, "ref", startNs, full = true)
    val window = Iv(w0, end.ms)
    def record(runs: Seq[(RuleRun, String)], name: String): Unit = runs.foreach { case (r, why) =>
      res.attempted += r.deliveries.size
      if (why.nonEmpty) r.deliveries.indices.foreach(i => res.fail(s"${r.spec.id}/$name/$i", why))
    }
    record(ref, "ref")

    val runs = ref.map(_._1)
    val lat = runs.flatMap(_.latencies)
    val warmBatchMs = warmBatches(runs)
    res.e2e("cold_s") = (runs.map(_.firstDeliveryMs).sum / 1e3, "s")
    res.e2e("warm_s") = (warmSeconds(runs), "s")
    res.e2e("query_p50_s") = (Stats.median(warmBatchMs.flatten) / 1e3, "s")
    // window rules deliver seconds later than the per-event rules, so a
    // pooled median would jump between the two groups: average per rule
    res.e2e("latency_p50_ms") = (runs.map(r => Stats.median(r.latencies)).sum / runs.size, "ms")
    res.e2e("latency_p90_ms") = (Stats.quantile(lat, 0.9), "ms")
    res.info("latency_samples") = JInt(lat.size)
    res.info("latency_p95_ms") = JDouble(Stats.quantile(lat, 0.95))
    res.info("rule_start_ms") = JDouble(Stats.median(runs.map(_.firstDeliveryMs)))
    res.info("order") = JArray(order.map(s => JString(s.id)).toList)

    if (o.trace) {
      val L = res.layers
      // batches that started after the measured span ended (at most the
      // one each rule was running when it was stopped) are not counted
      val inWindow = (p: StreamingQueryProgress) => startMs(p) <= window.end
      val prog = runs.flatMap(_.progress.filter(inWindow))
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      L("rules.start_s") = (startNs.values.sum / 1e9, "s")
      L("sources.latest_offset_ms") = (mean(prog.map(ms(_, "latestOffset"))), "ms")
      L("sources.get_batch_ms") = (mean(prog.map(ms(_, "getBatch"))), "ms")
      L("sources.lag_ms") = (mean(runs.flatMap(_.lagMs)), "ms")
      L("sources.lag_growth") = (runs.flatMap(_.lagGrowth).max, "ms/s")
      L("spark.query_planning_ms") = (mean(prog.map(ms(_, "queryPlanning"))), "ms")
      L("streaming.wal_commit_ms") = (mean(prog.map(ms(_, "walCommit"))), "ms")
      L("streaming.commit_offsets_ms") = (mean(prog.map(ms(_, "commitOffsets"))), "ms")
      L("spark.add_batch_ms") = (mean(prog.map(ms(_, "addBatch"))), "ms")
      val stateful = runs.filter(_.spec.timeCol == "wend").map(_.progress.filter(inWindow))
      val stateOps = stateful.flatten.flatMap(_.stateOperators)
      val lastState = stateful.flatMap(_.lastOption).flatMap(_.stateOperators)
      L("state.rows_total") = (lastState.map(_.numRowsTotal).sum.toDouble, "count")
      L("state.memory_bytes") = (lastState.map(_.memoryUsedBytes).sum.toDouble, "bytes")
      L("state.commit_ms") = (mean(stateOps.map(_.commitTimeMs.toDouble)), "ms")
      L("state.rows_dropped_late") = (stateOps.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
      val delivered = runs.flatMap(r => r.deliveries.take(r.progress.count(inWindow)))
      L("sinks.deliver_ms") = (mean(delivered.map(_.deliverNs / 1e6)), "ms")
      L("sinks.rows_out") = (delivered.map(d => d.obs.get("rows").asInstanceOf[Long]).sum.toDouble, "count")
      L("stream.batches") = (prog.size.toDouble, "count")
      L("stream.rows_in") = (prog.map(_.numInputRows).sum.toDouble, "count")
      L("stream.busy_ratio") = (prog.map(ms(_, "triggerExecution")).sum / (window.len.max(1) * runs.size), "ratio")
      spark.streams.removeListener(tracer)
      rec.foreach { r =>
        r.drain(); r.detach()
        Layers.spark(r, Seq(window), end.gcMs - gc0, end.codegenNs - cg0, res)
      }
      Layers.writeSpans(o, traces.asScala.toSeq)
      // an untraced twin of the reference phase: the tracing overhead,
      // and the ladder's first rung
      val (plain, _) = phase(o, spark, engine, order, ReferenceRate, refSeconds, "plain",
        scala.collection.mutable.Map(), full = false)
      record(plain, "plain")
      L("trace.overhead_s") = (warmSeconds(runs) - warmSeconds(plain.map(_._1)), "s")
      res.info("untraced_warm_s") = JDouble(warmSeconds(plain.map(_._1)))
      val (eps, steps) = climb(o, spark, engine, order, plain, stepSeconds, "step", record)
      L("rules.eps_max") = (eps, "1/s")
      res.info("ladder") = JArray(steps.toList)
      // single-core reference: the same ladder at local[1]
      engine.close(); Main.stopSession(spark)
      val (s1, e1) = setUp(o, 1)
      spark = s1; engine = e1
      val (ref1, _) = phase(o, spark, engine, order, ReferenceRate, stepSeconds, "one",
        scala.collection.mutable.Map(), full = false)
      record(ref1, "one")
      val (eps1, steps1) = climb(o, spark, engine, order, ref1, stepSeconds, "one", record)
      L("scale.eps_max_1core") = (eps1, "1/s")
      res.info("ladder_1core") = JArray(steps1.toList)
    }
    engine.close()
  }

  /** Whether every rule sustained an offered rate: it delivered every
    * batch, ran at least three batches after its first, its source lag did
    * not grow by more than [[LagGrowthLimit]], and the 90th-percentile
    * delivery latency stayed under [[LatencyLimitMs]]. With the step's
    * figures, for the record.
    */
  private def sustained(runs: Seq[(RuleRun, String)], rate: Long): (Boolean, JValue) = {
    val p90 = Stats.quantile(runs.flatMap(_._1.latencies), 0.9)
    val growth = runs.map(_._1.lagGrowth)
    val ok = p90 <= LatencyLimitMs && growth.forall(_.exists(_ <= LagGrowthLimit)) && runs.forall(_._2.isEmpty)
    (ok, JObject("rate" -> JLong(rate), "p90_ms" -> JDouble(p90),
      "lag_growth_ms_per_s" -> JArray(growth.map(_.fold[JValue](JNull)(JDouble(_))).toList),
      "pass" -> JBool(ok)))
  }

  /** Climb the ladder from a phase at the reference rate: the highest
    * offered events/s per stream that every rule sustained (0 when not
    * even the reference rate was), with the steps tried.
    */
  private def climb(o: Opts, spark: SparkSession, engine: RuleEngine, order: Seq[RuleSpec],
                    first: Seq[(RuleRun, String)], stepSeconds: Double, tag: String,
                    record: (Seq[(RuleRun, String)], String) => Unit): (Double, Seq[JValue]) = {
    var (ok, step) = sustained(first, ReferenceRate)
    var best = if (ok) ReferenceRate else 0L
    val steps = Seq.newBuilder[JValue] += step
    Ladder.foreach { rate =>
      if (ok) {
        val (runs, _) = phase(o, spark, engine, order, rate, stepSeconds, s"$tag$rate",
          scala.collection.mutable.Map(), full = false)
        record(runs, s"$tag$rate")
        val (pass, json) = sustained(runs, rate)
        ok = pass
        if (ok) best = rate
        steps += json
      }
    }
    (best.toDouble, steps.result())
  }
}
