package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.json4s._

import graft.{SparkEntry, Tables}
import graft.functions.GraftFunctions

/** Pinned expectation for one query at one scale factor: the oracle's
  * fingerprint, the fingerprint's tolerance settings, and, for a listed
  * known defect, the program's current (wrong) fingerprint and why.
  */
final case class Pin(expect: Fingerprint, round: Int, exclude: Set[String],
                     defect: Option[(Fingerprint, String)])

/** One query execution inside the measured window, and the storage reset
  * the harness ran before it.
  */
final case class QuerySpan(name: String, module: String, pass: String, reset: Iv,
                           iv: Iv, construct: Iv, write: Iv, seconds: Double, codegenNs: Long)

/** One pass over the board: its executions and wall-clock window. */
final case class Pass(spans: Seq[QuerySpan], window: Iv, gcMs: Long, codegenNs: Long) {
  def seconds: Double = spans.map(_.seconds).sum
}

/** The query board. It runs its fixed query list in one JVM, in an order
  * drawn from the seed: a cold pass, where every query runs for the first
  * time, then [[WarmPasses]] warm passes. Each cold execution writes to
  * the noop sink through an observation that fingerprints its rows in the
  * same job, and the fingerprint is checked against the pin; warm
  * executions write to the noop sink alone.
  */
object Boards {
  implicit private val formats: Formats = DefaultFormats

  /** Query -> module. One eKuiper SQL-surface query per module, and four
    * pipeline queries, one per execution mechanism: checkpoint barriers
    * (q_dedup_minhash), driver-side jobs at construction (q_knn_ivf),
    * sampling with the known defect (q_sample_dsir) and sketches.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q_join_full" -> "CoreSql", "q_win_hop" -> "WindowQueries", "q_acc" -> "AnalyticQueries",
    "q_fn_datetime" -> "FunctionQueries", "q_join_asof_tol" -> "TemporalQueries",
    "q_codec_urlencoded" -> "CodecQueries", "q_sample_weighted" -> "ExportQueries",
    "q_dedup_minhash" -> "PipelineQueries", "q_knn_ivf" -> "PipelineQueries",
    "q_sample_dsir" -> "PipelineQueries", "q_topk_sketch" -> "SketchQueries")
  /** Off the board, untimed: absorbs JVM and Spark warm-up (class loading,
    * first parquet reads), so the cold pass measures each board query's
    * own first-run cost.
    */
  val Warmup = "q_agg"
  /** The JIT keeps settling over the first warm passes, and load only ever
    * adds time, so a query's warm time is its fastest of these.
    */
  val WarmPasses = 2

  def pins(all: JValue, sfName: String): Map[String, Pin] = {
    val tol = (all \ "tolerance").extractOrElse[Map[String, JValue]](Map.empty)
    def fp(v: JValue) = Fingerprint((v \ "rows").extract[Long], (v \ "hash").extract[Long])
    (all \ "sf" \ sfName).extract[Map[String, JValue]].map { case (q, v) =>
      val t = tol.getOrElse(q, JNothing)
      val defect = all \ "known_defects" \ q
      q -> Pin(fp(v), (t \ "round").extractOrElse[Int](-1), (t \ "exclude").extractOrElse[List[String]](Nil).toSet,
        (defect \ sfName).toOption.map(d => fp(d) -> (defect \ "why").extract[String]))
    }
  }

  private def setUp(o: Opts, cores: Int): SparkSession = {
    val s = Main.session(o, cores)
    Tables.registerAll(s, o.data)
    GraftFunctions.registerAll(s)
    s
  }

  /** Same storage reset as the repository's bench between executions:
    * cached and checkpointed blocks from the previous query go, and a
    * full collection lets the ContextCleaner reclaim what they leave.
    */
  private def resetStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def run(o: Opts, all: JValue, res: Result): Unit = {
    val modules = Queries.toMap
    val sfName = java.nio.file.Paths.get(o.data).getFileName.toString
    val pinned = pins(all, sfName)
    // smoke mode corrupts one expectation: the check must catch it
    val expect = if (!o.smoke) pinned else {
      val q = Queries.head._1
      pinned.updated(q, pinned(q).copy(expect = pinned(q).expect.copy(hash = pinned(q).expect.hash + 1)))
    }
    val order = new scala.util.Random(o.seed).shuffle(Queries.map(_._1).toList)

    var spark = Main.setUpRepeated(o, res)(() => setUp(o, Main.Cores))(Main.stopSession)
    val wu0 = System.nanoTime()
    SparkEntry.queries(Warmup)(spark, o.data).write.format("noop").mode("overwrite").save()
    res.layers("setup.warmup_s") = ((System.nanoTime() - wu0) / 1e9, "s")

    def execute(name: String, pass: String, checked: Boolean): Option[QuerySpan] = {
      val pin = expect(name)
      val r0 = System.currentTimeMillis()
      resetStorage(spark)
      val sc = spark.sparkContext
      val cg0 = Recorder.codegenNs()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      res.attempted += 1
      try {
        sc.setLocalProperty(Recorder.SpanKey, s"$name|construct")
        val df = SparkEntry.queries(name)(spark, o.data)
        val w1 = System.currentTimeMillis()
        sc.setLocalProperty(Recorder.SpanKey, s"$name|write")
        val obs = new Observation(s"perfbench_${name}_$pass")
        val out = if (checked) Content.observed(df, obs, pin.round, pin.exclude) else df
        out.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime(); val w2 = System.currentTimeMillis()
        sc.setLocalProperty(Recorder.SpanKey, null)
        if (checked) {
          val got = Content.read(obs)
          if (got != pin.expect) {
            val why = s"$pass: rows ${got.rows} hash ${got.hash}, expected rows ${pin.expect.rows} hash ${pin.expect.hash}"
            pin.defect match {
              case Some((known, reason)) if known == got => res.knownDefects += s"$name/$pass" -> s"$why; $reason"
              case _ => res.fail(s"$name/$pass", why)
            }
          }
        }
        Some(QuerySpan(name, modules(name), pass, Iv(r0, w0), Iv(w0, w2), Iv(w0, w1), Iv(w1, w2),
          (t2 - t0) / 1e9, Recorder.codegenNs() - cg0))
      } catch {
        case e: Throwable =>
          sc.setLocalProperty(Recorder.SpanKey, null)
          res.fail(s"$name/$pass", s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

    // the traced run records its passes with `rec` attached, and runs an
    // untraced twin of every warm pass right after it, for the overhead
    val rec = if (o.trace) Some(new Recorder(spark)) else None
    def pass(tag: String, checked: Boolean, traced: Boolean): Pass = {
      if (traced) rec.foreach(_.attach())
      val gc0 = Recorder.gcMs(); val cg0 = Recorder.codegenNs()
      val w0 = System.currentTimeMillis()
      val spans = order.flatMap(execute(_, tag, checked))
      val p = Pass(spans, Iv(w0, System.currentTimeMillis()), Recorder.gcMs() - gc0, Recorder.codegenNs() - cg0)
      if (traced) rec.foreach { r => r.drain(); r.detach() }
      p
    }
    val cold = pass("cold", checked = true, traced = true)
    val (warm, plain) = (1 to WarmPasses).map { i =>
      (pass(s"warm$i", checked = false, traced = true),
        if (o.trace) Some(pass(s"plain$i", checked = false, traced = false)) else None)
    }.unzip
    val warmRuns = warm.flatMap(_.spans)
    def fastest(runs: Seq[QuerySpan])(q: String) = runs.filter(_.name == q).map(_.seconds).minOption.getOrElse(0.0)
    val warmOf = fastest(warmRuns) _
    val warmS = order.map(warmOf).sum
    val warmMs = warmRuns.map(_.seconds * 1000)
    res.e2e("cold_s") = (cold.seconds, "s")
    res.e2e("warm_s") = (warmS, "s")
    res.e2e("query_p50_s") = (Stats.median(order.map(warmOf)), "s")
    // latency: how long a recurring query takes, over every warm execution
    res.e2e("latency_p50_ms") = (Stats.median(warmMs), "ms")
    res.e2e("latency_p90_ms") = (Stats.quantile(warmMs, 0.9), "ms")
    res.info("warm_passes_s") = JArray(warm.map(p => JDouble(p.seconds)).toList)
    res.info("queries") = JObject(order.map { q =>
      q -> JObject(
        "module" -> JString(modules(q)),
        "cold_s" -> JDouble(cold.spans.find(_.name == q).map(_.seconds).getOrElse(-1.0)),
        "warm_s" -> JDouble(warmOf(q)))
    })
    res.info("order") = JArray(order.map(JString(_)))

    rec.foreach { r =>
      val traced = cold +: warm
      Layers.board(o, r, traced, res)
      val plainS = order.map(fastest(plain.flatten.flatMap(_.spans))).sum
      res.layers("trace.overhead_s") = (warmS - plainS, "s")
      res.info("untraced_warm_s") = JDouble(plainS)
      // single-core reference: one more warm pass at local[1]
      Main.stopSession(spark)
      spark = setUp(o, 1)
      res.layers("scale.warm_s_1core") = (pass("core1", checked = false, traced = false).seconds, "s")
    }
  }

  /** Pin mode: fingerprint every board query's result, and its oracle
    * result file where one exists, at one scale factor, for pins.json.
    */
  def pin(o: Opts, all: JValue, oracleDir: Option[String]): JValue = {
    val spark = setUp(o, Main.Cores)
    val tol = (all \ "tolerance").extractOrElse[Map[String, JValue]](Map.empty)
    def round(q: String) = tol.get(q).map(v => (v \ "round").extractOrElse[Int](-1)).getOrElse(-1)
    def excl(q: String) = tol.get(q).map(v => (v \ "exclude").extractOrElse[List[String]](Nil).toSet).getOrElse(Set.empty[String])
    val out = Queries.map(_._1).sorted.map { q =>
      val fp = Content.of(SparkEntry.queries(q)(spark, o.data), round(q), excl(q))
      val oracle = oracleDir.map(d => new java.io.File(s"$d/$q.parquet")).filter(_.exists).map { f =>
        Content.of(spark.read.parquet(f.getPath), round(q), excl(q))
      }
      System.err.println(s"[pin] $q rows=${fp.rows}")
      q -> JObject(List("rows" -> JLong(fp.rows), "hash" -> JLong(fp.hash)) ++
        oracle.toList.flatMap(f => List("oracle_rows" -> JLong(f.rows), "oracle_hash" -> JLong(f.hash))))
    }
    JObject(out.toList)
  }
}
