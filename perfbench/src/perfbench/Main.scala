package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** One benchmark run in one JVM: start the session, set the workload up
  * several times, warm up, measure for `--seconds` of busy time, check
  * outputs, and write every figure to `--out` as one JSON object.
  *
  * With `--trace 1` the run measures twice: first untraced, then with
  * the listeners and decorators installed, and reports per-layer figures
  * from the traced window plus the traced-over-untraced cost per op.
  */
object Main {
  private final case class Window(ops: Int, items: Long, busyNs: Long, lat: Seq[Double],
                                  busy: Seq[Double], failed: Int, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = opt("cpus").toInt
    Files.createDirectories(work)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    graft.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(spark.sparkContext)
    val c = new Ctx(spark, work, seed, tracer)
    // input sizes come from perfbench/run.py, the one place they are set
    def size(k: String) = opt(k).toInt
    val wl: Workload = workload match {
      case "chat"   => new ChatWorkload(c, nDocs = size("docs"), questions = size("questions"))
      case "ingest" => new IngestWorkload(c, firstBatch = size("docs"), batch = size("batch"))
      case "curate" => new CurateWorkload(c, nDocs = size("docs"))
      case other    => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val reps = size("setup-reps")

    val setupS = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val heapAfterSetup = liveHeapMb()
    wl.warmup()

    var next = 0
    def measure(): Window = {
      val gc0 = gcMs()
      var busy = 0L
      var items = 0L
      var failed = 0
      val lat = scala.collection.mutable.ArrayBuffer[Double]()
      val opBusy = scala.collection.mutable.ArrayBuffer[Double]()
      val start = next
      while (busy < seconds * 1e9 || (next - start) % wl.opBlock != 0) {
        val t0 = System.nanoTime()
        val op = try wl.op(next) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $next failed: $e")
            e.printStackTrace()
            Op(0, System.nanoTime() - t0, System.nanoTime() - t0, ok = false)
        }
        next += 1
        busy += op.busyNs
        items += op.items
        lat += op.latencyNs / 1e6
        opBusy += op.busyNs / 1e6
        if (!op.ok) failed += 1
      }
      Window(next - start, items, busy, lat.toSeq, opBusy.toSeq, failed, gcMs() - gc0)
    }

    val timed = measure()
    val tracedWin = if (!trace) None else {
      val bus = new SparkMetrics(tracer)
      spark.sparkContext.addSparkListener(bus)
      spark.listenerManager.register(bus)
      Counters.reset()
      tracer.clear()
      tracer.on = true
      Tracer.active = tracer
      c.traced = true
      val w = measure()
      c.traced = false
      Tracer.active = null
      tracer.on = false
      org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(bus)
      spark.sparkContext.removeSparkListener(bus)
      Some(w)
    }
    val heapAfterRun = liveHeapMb()
    val checks = try wl.finalChecks() catch {
      case e: Exception =>
        e.printStackTrace()
        Seq(s"final checks ran ($e)" -> false)
    }

    val windows = Seq(timed) ++ tracedWin
    val attempted = windows.map(_.ops).sum + checks.size
    val failed = windows.map(_.failed).sum + checks.count(!_._2)
    def perOp(w: Window) = w.busyNs / 1e6 / math.max(1, w.ops)

    val endToEnd = Map(
      "setup_s" -> (sessionS + Stats.median(setupS)),
      "op_p50_ms" -> Stats.median(timed.lat),
      "items_per_s" -> timed.items / (timed.busyNs / 1e9),
      "live_heap_mb" -> math.max(heapAfterSetup, heapAfterRun))

    val perLayer = tracedWin.map { w =>
      val ops = math.max(1, w.ops).toDouble
      def per(counter: String, scale: Double = 1.0) = Counters.get(counter) * scale / ops
      Map(
        "spark.jobs" -> per("spark.jobs"),
        "spark.plan_ms" -> per("spark.plan_ms"),
        "spark.task_wait_ms" -> per("spark.task_wait_ms"),
        "spark.exec_ms" -> tracer.unionMs("spark.job") / ops,
        "spark.task_cpu_ms" -> per("spark.task_cpu_ns", 1e-6),
        "spark.shuffle_bytes" -> per("spark.shuffle_bytes"),
        "spark.spill_bytes" -> per("spark.spill_bytes"),
        "spark.gc_ms" -> per("spark.gc_ms"),
        "embed.calls" -> per("embed.calls"),
        "embed.texts" -> per("embed.items"),
        "embed.ms" -> per("embed.ns", 1e-6),
        "trace.overhead_frac" -> (perOp(w) / perOp(timed) - 1.0)) ++ wl.layers(w.ops)
    }.getOrElse(Map.empty)
    if (trace) tracer.write(work.resolve("trace.jsonl"))

    val env = Map(
      "session_start_s" -> sessionS,
      "setup_reps" -> reps.toDouble,
      "ops" -> timed.ops.toDouble,
      "measured_s" -> timed.busyNs / 1e9,
      "gc_ms" -> timed.gcMs.toDouble,
      "cpus" -> cpus.toDouble) ++
      setupS.zipWithIndex.map { case (s, i) => s"setup_rep$i" -> s } ++ wl.info
    val out =
      s"""{"attempted":$attempted,"failed":$failed,""" +
        s""""end_to_end":${obj(endToEnd)},"per_layer":${obj(perLayer)},"info":${obj(env)},""" +
        s""""ops_ms":{"latency":${timed.lat.mkString("[", ",", "]")},"busy":${timed.busy.mkString("[", ",", "]")}},""" +
        s""""checks":{${checks.map { case (k, v) => s""""${graft.Jsons.escape(k)}":$v""" }.mkString(",")}}}"""
    Files.write(Paths.get(opt("out")), out.getBytes("UTF-8"))
    spark.stop()
  }

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    }.mkString("{", ",", "}")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap still in use after a full collection, in MB. */
  private def liveHeapMb(): Double = {
    // the second collection reclaims what Spark's context cleaner released
    // after the first one made its broadcasts and shuffles unreachable
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
