package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Command-line options; run.py passes every one of them. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, out: String, pins: String,
                      launchMs: Long, smoke: Boolean, oracle: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("data"), get("work"), get("out"), get("pins"), get("launch-ms").toLong,
      m.get("smoke").contains("1"), m.get("oracle"))
  }
}

/** One timed or traced run of one workload. The result record holds the
  * end-to-end metrics, the per-layer metrics (traced runs) and every
  * correctness failure; run.py turns it into the one-line summary.
  */
final class Result {
  val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val layers = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val info = scala.collection.mutable.LinkedHashMap[String, JValue]()
  var attempted = 0L
  val failures = scala.collection.mutable.ListBuffer[(String, String)]()
  val knownDefects = scala.collection.mutable.ListBuffer[(String, String)]()

  def fail(op: String, why: String): Unit = {
    failures += op -> why
    System.err.println(s"[perfbench] FAILED $op: $why")
  }
}

object Main {
  /** Every workload runs at local[4]; the traced run adds local[1] references. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val pins = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(o.pins)), "UTF-8"))
    val res = new Result
    o.workload match {
      case "board" => Boards.run(o, pins, res)
      case "rules_stream" => Rules.run(o, res)
      case "pin" =>
        val out = Boards.pin(o, pins, o.oracle)
        Files.write(Paths.get(o.out), JsonMethods.pretty(JsonMethods.render(out)).getBytes("UTF-8"))
        return
      case "oracle-sql" =>
        val out = JObject(Boards.Queries.map(_._1).sorted.flatMap { q =>
          graft.SparkEntry.oracleSql.get(q).map(sql => q -> JString(sql)) }.toList)
        Files.write(Paths.get(o.out), JsonMethods.pretty(JsonMethods.render(out)).getBytes("UTF-8"))
        return
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    res.e2e("peak_rss_mb") = (peakRssMb(), "MB")
    write(o, res)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** A session configured like the repository's benches: local mode,
    * shuffle partitions pinned to 4, UTC, and scratch space in the
    * benchmark's work directory.
    */
  def session(o: Opts, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set up once, counted from process launch (JVM start, class loading),
    * then stop the session and build it again three times, keeping the
    * last one. `setup_s` is the median of the rebuilds.
    */
  def setUpRepeated[T](o: Opts, res: Result)(build: () => T)(teardown: T => Unit): T = {
    var last = build()
    res.layers("setup.first_s") = ((System.currentTimeMillis() - o.launchMs) / 1e3, "s")
    val secs = (1 to 3).map { _ =>
      teardown(last)
      val t0 = System.nanoTime()
      last = build()
      (System.nanoTime() - t0) / 1e9
    }
    res.e2e("setup_s") = (Stats.median(secs), "s")
    res.info("setup_rebuilds_s") = JArray(secs.toList.map(JDouble(_)))
    last
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def metricsJson(m: collection.Map[String, (Double, String)]): JValue =
    JObject(m.toList.map { case (k, (v, u)) =>
      k -> JObject("value" -> JDouble(v), "unit" -> JString(u)) })

  private def write(o: Opts, res: Result): Unit = {
    val failed = res.failures.size.toLong
    val record = JObject(
      "workload" -> JString(o.workload), "seed" -> JLong(o.seed),
      "seconds" -> JInt(o.seconds), "trace" -> JBool(o.trace),
      "smoke" -> JBool(o.smoke),
      "attempted" -> JLong(res.attempted), "failed" -> JLong(failed),
      "failed_ratio" -> JDouble(if (res.attempted > 0) failed.toDouble / res.attempted else 1.0),
      "failures" -> JArray(res.failures.toList.map { case (op, w) =>
        JObject("op" -> JString(op), "why" -> JString(w)) }),
      "known_defects" -> JArray(res.knownDefects.toList.map { case (op, w) =>
        JObject("op" -> JString(op), "why" -> JString(w)) }),
      "e2e" -> metricsJson(res.e2e),
      "layers" -> metricsJson(res.layers),
      "info" -> JObject(res.info.toList))
    Files.createDirectories(Paths.get(o.out).toAbsolutePath.getParent)
    Files.write(Paths.get(o.out), JsonMethods.pretty(JsonMethods.render(record)).getBytes("UTF-8"))
  }
}

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Least-squares slope of y over x; None with fewer than three points. */
  def slope(pts: Seq[(Double, Double)]): Option[Double] = {
    val (mx, my) = (pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size)
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (pts.size < 3 || sxx == 0) None else Some(pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx)
  }
}
