package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** One benchmark run in one JVM: set up, warm up, measure for the given
  * seconds, check every output, and write the raw measurements as JSON
  * for `run.py` to turn into metrics.
  *
  * Arguments: `--seed n --seconds s --trace 0|1 --work dir --out file
  * --setup-reps n --params json` (the workload's entry in workloads.json).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    implicit val formats: Formats = DefaultFormats
    val pj = parse(a("params"))
    val p = Params(
      corpus = (pj \ "corpus").extract[Int],
      clients = (pj \ "clients").extract[Int],
      waveDocs = (pj \ "wave_docs").extract[Int],
      warmupRounds = (pj \ "warmup_rounds").extract[Int],
      setupReps = a("setup-reps").toInt)

    val cpus = Runtime.getRuntime.availableProcessors
    // Bench.scala's session settings, on every core of this host
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer(spark.sparkContext, trace)
      val sessionS = (System.nanoTime() - t0) / 1e9
      tracer.record("setup.session", 0L, 0L, tracer.nowMs - sessionS * 1e3, tracer.nowMs)
      val app = new AppBench(spark, tracer, p, seed, work)
      var mark = System.nanoTime()
      def lap(): Double = { val t = System.nanoTime(); val s = (t - mark) / 1e9; mark = t; s }
      val setup = app.setup()
      val setupS = lap()
      app.warmUp()
      val warmS = lap()
      val gc0 = AppBench.gcMs - app.explicitGcMs
      app.measure(a("seconds").toDouble)
      val gcWindowMs = AppBench.gcMs - app.explicitGcMs - gc0
      val measureS = lap()
      app.recallProbes()
      val probeS = lap()
      val groups = tracer.listener.map(_.snapshot()).getOrElse(Map.empty)
      val ops = app.report()
      val checkS = lap()
      val heapPeakMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      val out: JObject =
        ("phases_s" -> (("session" -> sessionS) ~ ("setup" -> setupS) ~
          ("warm_up" -> warmS) ~ ("measure" -> measureS) ~ ("recall_probes" -> probeS) ~ ("check" -> checkS))) ~
        ("setup" -> setup.map(ph => JObject(ph.map { case (k, v) => k -> JDouble(v) }.toList))) ~
        ("ops" -> ops.toList) ~
        ("stored_bytes_per_doc" -> app.storedBytesPerDoc) ~
        ("heap_peak_mb" -> heapPeakMb) ~
        ("gc_ms" -> gcWindowMs) ~
        ("spans" -> tracer.allSpans.map(s => JArray(List(JInt(s.id), JString(s.name),
          JInt(s.op), JInt(s.parent), JDouble(s.startMs), JDouble(s.endMs)))).toList) ~
        ("groups" -> JObject(groups.toList.map { case (id, g) => id.toString -> (
          ("jobs" -> g.jobs.map { case (s, e) => JArray(List(JInt(s), JInt(e))) }.toList) ~
          ("cpu_ms" -> g.cpuNs / 1e6) ~ ("scan_bytes" -> g.scanBytes) ~
          ("scan_rows" -> g.scanRows) ~ ("shuffle_bytes" -> g.shuffleBytes)) }))
      Files.writeString(Paths.get(a("out")), compact(render(out)))
    } catch { case e: Throwable =>
      e.printStackTrace()
      Runtime.getRuntime.halt(1)
    }
    // run.py removes the run's directory, Spark's scratch included; the
    // engine's own shutdown cleanup stalls for up to a minute on some
    // disks and would only count against the run's time limit
    Runtime.getRuntime.halt(0)
  }
}
