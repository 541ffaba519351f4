package loadbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run (one JVM, one workload). */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: java.io.File, val srcRoot: java.io.File) {
  val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None
  private val opIds = new java.util.concurrent.atomic.AtomicLong(1L << 40)
  def nextOpId(): Long = opIds.getAndIncrement()
  private val born = System.nanoTime()
  /** Progress line on stderr (the harness log), with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[loadbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** What a timed window produced. */
final case class Window(label: String, t0: Long, t1: Long, ops: Seq[Op],
                        jvm: Map[String, Any], layers: Map[String, Any],
                        spans: Seq[Span])

/** What a workload returns to [[Main]]. */
final case class Outcome(setupS: Seq[Double], windows: Seq[Window],
                         checks: Seq[(String, Boolean, String)],
                         attempted: Long, failed: Long,
                         values: Map[String, Any])

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val work = new java.io.File(arg(args, "--work").getOrElse(sys.error("--work required")))
    val out = new java.io.File(arg(args, "--out").getOrElse(sys.error("--out required")))
    val srcRoot = new java.io.File(arg(args, "--src").getOrElse("."))
    val cpus = arg(args, "--cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

    val w: Workload = workload match {
      case "ingest" => IngestLoad
      case "analytics" => AnalyticsLoad
      case other => sys.error(s"unknown workload $other")
    }
    val spark = session(work, cpus, trace)
    val ctx = new Ctx(spark, seed, seconds, trace, work, srcRoot)
    ctx.tracer.foreach(_.register())
    val calibStart = Calib.run(work)
    ctx.note("session ready")
    val t0 = System.nanoTime()
    val res = w.run(ctx)
    val runS = (System.nanoTime() - t0) / 1e9
    val heapLiveMb = Jvm.liveHeapMb()
    val calibEnd = Calib.run(work)
    ctx.note("done")
    val record0 = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "stamp" -> stamp(spark, work),
      "calib" -> Map("start" -> calibStart, "end" -> calibEnd),
      "setup_s" -> res.setupS,
      "run_s" -> runS,
      "heap_live_mb" -> heapLiveMb,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "checks" -> res.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "values" -> res.values,
      "windows" -> res.windows.map { win =>
        Map("label" -> win.label, "t0" -> win.t0, "t1" -> win.t1,
          "ops" -> win.ops.map(o => Map("id" -> o.id, "cls" -> o.cls, "t0" -> o.t0,
            "t1" -> o.t1, "ok" -> o.ok, "status" -> o.status, "rows" -> o.resultRows) ++ o.note),
          "jvm" -> win.jvm, "layers" -> win.layers,
          "spans" -> win.spans.map(_.toJson))
      })
    java.nio.file.Files.write(out.toPath, Json.write(record0).getBytes("UTF-8"))
    spark.stop()
    // idle server and committer threads would keep the JVM up
    System.exit(0)
  }

  def session(work: java.io.File, cpus: Int, trace: Boolean): SparkSession = {
    val local = new java.io.File(work, "spark-local"); local.mkdirs()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("loadbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.files.openCostInBytes", String.valueOf(256 * 1024))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.graft.streaming.driveCheckpointDir",
        new java.io.File(work, "drive-ckpt").getAbsolutePath)
      .config("spark.graft.ivf.persistDir", new java.io.File(work, "ivf").getAbsolutePath)
    if (trace) Tracer.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCallSite("loadbench")
    s
  }

  private def stamp(spark: SparkSession, work: java.io.File): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
      "jvm" -> (sys.props("java.vm.name") + " " + sys.props("java.runtime.version")),
      "jvm_args" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")).toSeq,
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "work_dir" -> work.getAbsolutePath,
      "local_dir" -> spark.conf.get("spark.local.dir", ""),
      "background_compaction" -> false)
  }
}

/** JVM-wide counters read around a timed window. */
object Jvm {
  private def gc: (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }
  private def jit: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  final class Probe {
    private val (gc0, n0) = gc
    private val j0 = jit
    def delta(): Map[String, Any] = {
      val (gc1, n1) = gc
      Map("gc_ms" -> (gc1 - gc0), "gc_count" -> (n1 - n0), "jit_ms" -> (jit - j0))
    }
  }

  /** Heap in use after full collections, in MiB. The pauses let Spark's
    * ContextCleaner release what the first collections made unreachable. */
  def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Fixed host calibration: single-core and all-core integer work and a
  * 16 MiB write+fsync+read in the work directory (Bench.calibrate's shape
  * with a smaller file). Compare these before comparing two runs. */
object Calib {
  private val sink = new java.util.concurrent.atomic.AtomicLong

  private def cpuOnce(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31
      i += 1
    }
    sink.addAndGet(x)
  }

  private def ms(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }

  def run(work: java.io.File): Map[String, Any] = {
    cpuOnce()
    val cpu = Seq.fill(3)(ms(cpuOnce())).sorted.apply(1)
    val n = Runtime.getRuntime.availableProcessors()
    val mt = ms {
      val ts = (0 until n).map(_ => new Thread(() => cpuOnce()))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    work.mkdirs()
    val f = java.io.File.createTempFile("calib_", ".bin", work)
    val io = try ms {
      val buf = new Array[Byte](1 << 20)
      new java.util.Random(42).nextBytes(buf)
      val o = new java.io.FileOutputStream(f)
      try { (0 until 16).foreach(_ => o.write(buf)); o.getFD.sync() } finally o.close()
      val in = new java.io.FileInputStream(f)
      try { var r = in.read(buf); while (r >= 0) { sink.addAndGet(r); r = in.read(buf) } }
      finally in.close()
    } finally f.delete()
    Map("cpu_ms" -> cpu, "cpu_all_ms" -> mt, "io16m_ms" -> io)
  }
}
