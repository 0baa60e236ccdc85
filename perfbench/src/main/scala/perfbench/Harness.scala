package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one local session, one client in a closed loop, one
  * operation at a time.
  *
  *   Harness --workload W --ops A,B,.. --seed N --seconds S --trace 0|1
  *           --nproc P --data DIR --corpus DIR --work DIR --scripts DIR
  *
  * Set-up (session start, function registration, table warm-up) runs
  * [[SetupReps]] times and the last session is kept. A first pass then
  * runs every operation and leaves its outputs for the check; it is in no
  * timing. A warm-up pass follows, since passes keep speeding up for
  * several passes (JIT and codegen). Then passes run until S seconds have
  * gone by, and at least [[MinPasses]]. Query workloads run their
  * operations in a new order in every pass, drawn from the seed. With
  * `--trace 1` the passes alternate untraced and traced, and the traced
  * ones record spans and per-layer counters.
  * Everything measured is written to `<work>/result.json` and the spans to
  * `<work>/spans.json`; `run.py` turns them into metrics.
  */
object Harness {

  /** Measured passes per run at least, so every metric is a median of
    * three; with `--trace 1` two of them are untraced and one traced. */
  val MinPasses = 3

  /** Session set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val nproc = args("nproc").toInt
    val (data, work) = (args("data"), args("work"))
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ------------------------------------------------------------ set-up
    def session(): SparkSession = {
      val b = SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      graft.core.Tables.sessionDefaults.foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      org.apache.spark.sql.graft.GraftFunctions.register(spark)
      graft.core.Tables.names.foreach(n => graft.core.Tables(spark, data, n))
      graft.core.Tables.lineitem(spark, data).groupBy("l_returnflag").count().count()
      spark
    }
    val setupS = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val s = session()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) s.stop()
      dt
    }
    val spark = SparkSession.active
    val tracer = new Tracer(spark)
    val wl = new Workloads(spark, tracer, data, args("corpus"), work, args("scripts"))(
      args("ops").split(",").toSeq)
    // each pass of a query workload runs its operations in a new order
    // drawn from the seed, so no one order's effect on the timings sets a
    // whole run apart; MapleJuice steps read the last one's output
    val rng = new scala.util.Random(seed)
    def order(): Seq[Op] = if (workload == "maplejuice") wl.ops else rng.shuffle(wl.ops)

    var attempted = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Runs every op once; returns the pass wall time and each op's
      * latency (failed ops are left out of the latencies). */
    def pass(verify: Boolean): (Double, Map[String, Double]) = {
      val t0 = System.nanoTime()
      val lat = tracer.span("pass", "harness") {
        order().flatMap { op =>
          attempted += 1
          val s = System.nanoTime()
          try {
            tracer.span(s"op:${op.name}", "harness")(op.run(verify))
            Some(op.name -> (System.nanoTime() - s) / 1e9)
          } catch {
            case e: Throwable =>
              failures += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
              System.err.println(s"[perfbench] ${op.name} failed: $e")
              None
          }
        }.toMap
      }
      ((System.nanoTime() - t0) / 1e9, lat)
    }

    // --------------------------- the check's pass, then the warm-up pass
    // the first pass writes every output for the check and is left out of
    // every timing; the second is the warm-up that `setup_s` counts
    pass(verify = true)
    failures ++= wl.check()
    val warmupS = pass(verify = false)._1
    // let the JIT finish compiling what the warm-up queued and start the
    // measured passes from a collected heap, so neither lands on one pass
    System.gc()
    Thread.sleep(1000)

    // ----------------------------------------------------- measured passes
    AfterGc.start()
    var liveMb = 0.0
    val passes = scala.collection.mutable.ArrayBuffer.empty[String]
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || i < MinPasses) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.start()
      val (wall, lat) = pass(verify = false)
      val layers = if (traced) tracer.stop() else Map.empty[String, Double]
      passes += Json(Map("wall_s" -> wall, "traced" -> traced, "ops" -> lat, "layers" -> layers))
      i += 1
      // over the same work in every run, however many passes fit in S
      // seconds; the collection here also gives a run with few collections
      // a reading
      if (i == MinPasses) {
        System.gc()
        liveMb = math.max(AfterGc.peakMb, AfterGc.usedMb)
      }
    }

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toDouble).getOrElse(0.0)
    val result = Json(Map(
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "boot_s" -> bootS, "session_setup_s" -> setupS, "warmup_s" -> warmupS,
      "op_order" -> wl.ops.map(_.name), "oracles" -> wl.oracles,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "peak_rss_mb" -> hwmKb / 1024.0, "peak_live_mb" -> liveMb,
      "passes" -> RawJson(passes.mkString("[", ",", "]"))))
    Files.write(Paths.get(work, "result.json"), result.getBytes("UTF-8"))
    if (trace) Files.write(Paths.get(work, "spans.json"), tracer.allSpans.map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_ns" -> s.start, "end_ns" -> s.end))).mkString("[", ",\n", "]").getBytes("UTF-8"))
    spark.stop()
    sys.exit(0)
  }
}

final case class RawJson(text: String)

/** Minimal JSON writer for the harness's result files. */
object Json {
  def apply(v: Any): String = v match {
    case RawJson(t) => t
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }
}

/** The largest memory in use (every pool, heap and non-heap) right after
  * a garbage collection since `start`: the memory the program retained at
  * its high point, which a heap must hold. */
object AfterGc extends javax.management.NotificationListener {
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._
  private val peak = new java.util.concurrent.atomic.AtomicLong(0)

  def start(): Unit = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach(_.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(this, null, null))

  def handleNotification(n: javax.management.Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      peak.accumulateAndGet(used, math.max)
    }

  def peakMb: Double = peak.get / 1048576.0

  /** Memory in use now, over the same pools. */
  def usedMb: Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .map(_.getUsage.getUsed).sum / 1048576.0
}
