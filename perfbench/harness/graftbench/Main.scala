package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** One benchmark process: runs one workload against graft's public entry
  * points and writes a raw run log (`<out>/run.json`, and `spans.json`
  * when tracing). Metrics and output checks are computed from the log by
  * perfbench/run.py, outside this process.
  *
  *   --kind queries --data DIR --queries q1,q2 --seconds S --out DIR --cpus N --trace 0|1
  *   --kind ingest --seed N --backlog N --rounds N --max-per-trigger N --rate R
  *                 --seconds S --out DIR --cpus N --trace 0|1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opt("out")); out.mkdirs()
    val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val trace = new Trace(opt("trace") == "1")
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val canaryBefore = Canary.probe()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // armed after the warm-up, so spans and counters cover the timed work only
    val counters = new Counters(trace)
    def traceFromHere(): Unit = if (trace.enabled) {
      spark.sparkContext.addSparkListener(counters)
      trace.recording = true
    }

    // setup_s runs from JVM start to the first timed operation, less the
    // box probe and the generator's file writes, which are not set-up
    var excludedS = canaryBefore.wallS
    def setupS(): Double = (Trace.now() / 1e6 - jvmStartMs) / 1e3 - excludedS

    val log: Map[String, Any] = opt("kind") match {
      case "queries" =>
        val loop = new QueryLoop(spark, opt("data"), opt("queries").split(",").toSeq, trace)
        val warm = loop.warmUp(cpus)
        traceFromHere()
        val setup = setupS()
        // timed passes until the run's seconds have passed, and at least
        // three: the metrics take each query's fastest run, and neighbours
        // on a shared machine slow runs at random
        val t0 = System.nanoTime()
        val runs = Seq.newBuilder[loop.QueryRun] ++= warm
        val passes = Seq.newBuilder[Double]
        var n = 0
        while (n < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
          n += 1
          val (r, wall) = loop.pass(n)
          runs ++= r
          passes += wall
        }
        loop.dumpResults(new File(out, "results").getPath)
        json.writeValue(new File(out, "oracle_sql.json"), graft.SparkEntry.oracleSql)
        Map("setup_s" -> setup, "pass_s" -> passes.result(), "runs" -> runs.result())
      case "ingest" =>
        val ingest = new Ingest(spark, new File(out, "ingest"), opt("seed").toLong, trace,
          opt("backlog").toInt, opt("rounds").toInt, opt("max-per-trigger").toInt,
          opt("rate").toDouble, seconds)
        TimedArrivals.trace = trace
        ingest.warmUp()
        excludedS += ingest.writeBacklog(0)
        traceFromHere()
        val setup = setupS()
        val log = ingest.run()
        if (trace.enabled) ingest.triggerSpans()
        log + ("setup_s" -> setup)
    }

    ListenerDrain(spark.sparkContext)
    val canaryAfter = Canary.probe()
    json.writeValue(new File(out, "run.json"), log ++ Map(
      "cores" -> cpus,
      "canary_ms" -> Seq(canaryBefore.medianMs, canaryAfter.medianMs),
      "peak_rss_mb" -> Canary.peakRssMb(),
      "counters" -> counters.snapshot))
    if (trace.enabled) json.writeValue(new File(out, "spans.json"), trace.all)
    spark.stop()
  }
}

/** Box-load probe: a fixed amount of pure-JVM integer work, timed. Its
  * time only grows when something else on the machine takes the core. */
object Canary {
  final case class Probe(medianMs: Double, wallS: Double)
  @volatile private var sink = 0L

  private def work(): Long = {
    var h = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < 20000000) { h = (h ^ (h >>> 29)) * 0xBF58476D1CE4E5B9L + i; i += 1 }
    h
  }

  def probe(): Probe = {
    val t0 = System.nanoTime()
    val ms = (1 to 7).map { _ =>
      val s = System.nanoTime(); sink += work(); (System.nanoTime() - s) / 1e6
    }.sorted
    Probe(ms(ms.size / 2), (System.nanoTime() - t0) / 1e9)
  }

  /** Process peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
    .getOrElse(0.0)
}
