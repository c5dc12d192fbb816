package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: its kind (the unit medians are taken over),
  * wall time, the pass it belongs to, and whether it completed.
  */
final case class Op(kind: String, ms: Double, pass: Int, ok: Boolean, err: String)

/** The benchmark's JVM side. `run.py` starts one of these per run with
  * generated inputs and reads back `result.json`: the raw operation
  * samples, from which run.py computes the end-to-end metrics and makes
  * the output checks, and in a traced run the per-layer metrics.
  *
  * Arguments (all `--key value`): workload, seconds, trace,
  * cpus, data (dataset dir), work (this run's scratch dir), fixtures
  * (warehouse + index store landed by the same build), script
  * (the serve script), out (result file).
  */
final class Harness(args: Map[String, String]) {

  val workload: String = args("workload")
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val cpus: String = args("cpus")
  val data: String = args("data")
  val work: Path = Paths.get(args("work"))
  val fixtures: Path = Paths.get(args("fixtures"))

  val ops = mutable.ArrayBuffer.empty[Op]
  var setupS = 0.0
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  val out = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val phases = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Double]]
  var sessionStartS = 0.0
  var spark: SparkSession = _
  var trace: EngineTrace = _
  private var peakOldGenMb = 0.0
  private val watchdog = new java.util.Timer("perfbench-cap", true)

  // ---- session -------------------------------------------------------

  /** The program's own session builder, at `local[nproc]` with shuffle
    * partitions mirrored (Sessions does that). Scratch paths stay in
    * this run's directory.
    */
  def startSession(): SparkSession = {
    val s = graft.Sessions.builder(cpus)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (traced) {
      trace = new EngineTrace
      s.sparkContext.addSparkListener(trace)
      s.listenerManager.register(trace)
    }
    s
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    spark = null
  }

  /** The workload's set-up, timed from JVM start (class loading, JIT
    * and SparkContext start included) to the first timed operation:
    * the session, then `prepare` (cache fill, warm pass, artifact
    * reuse). Once per run: a second set-up in the same JVM would be a
    * warm restart and measure something else.
    */
  def setUp(prepare: => Unit): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    spark = startSession()
    sessionStartS = (System.nanoTime() - t0) / 1e9
    prepare
    setupS = (System.nanoTime() - t0) / 1e9
    sampleHeap(forceGc = true)
  }

  /** Times one named part of the set-up (reported, not a metric). */
  def setupPart[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupParts(name) = (System.nanoTime() - t0) / 1e9
  }

  // ---- timing ------------------------------------------------------------

  /** Times `body` as one operation of `kind`, under job group `group`
    * (the trace attributes tasks by group). A body still running after
    * [[Harness.CapSec]] has its jobs cancelled and counts as failed.
    */
  def timed(kind: String, group: String, pass: Int, record: Boolean = true)(body: => Unit): Op = {
    spark.sparkContext.setJobGroup(group, kind, interruptOnCancel = true)
    val sc = spark.sparkContext
    val cancel = new java.util.TimerTask { def run(): Unit = sc.cancelJobGroup(group) }
    watchdog.schedule(cancel, Harness.CapSec * 1000L)
    val t0 = System.nanoTime()
    val rec =
      try { body; Op(kind, (System.nanoTime() - t0) / 1e6, pass, ok = true, "") }
      catch {
        case e: Throwable =>
          val c = Option(e.getCause).getOrElse(e)
          System.err.println(s"[perfbench] $kind failed: $c")
          Op(kind, (System.nanoTime() - t0) / 1e6, pass, ok = false,
            s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      } finally {
        cancel.cancel()
        sc.clearJobGroup()
      }
    if (record) ops += rec
    rec
  }

  /** A DataFrame-returning operation split into the three phases the
    * traced run reports: build (the layer call), plan (forcing the
    * executed plan) and exec (`run` on the frame). Untraced runs skip
    * the separate plan step so they time the program's natural path.
    */
  def phased(kind: String, group: String, pass: Int)(build: => DataFrame)(run: DataFrame => Unit): Op =
    timed(kind, group, pass) {
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      if (traced) df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      run(df)
      val t3 = System.nanoTime()
      if (traced) {
        phase(kind, "build") += (t1 - t0) / 1e9
        phase(kind, "plan") += (t2 - t1) / 1e9
        phase(kind, "exec") += (t3 - t2) / 1e9
      }
    }

  def phase(kind: String, name: String): mutable.ArrayBuffer[Double] =
    phases.getOrElseUpdate(kind -> name, mutable.ArrayBuffer.empty)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---- process-level gauges ----------------------------------------------

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old Gen") || p.getName.contains("Tenured")))

  /** Old-generation usage after the most recent collection of that
    * pool. A forced collection first makes the reading independent of
    * when the JVM last collected; forced only between operations. The
    * second collection reclaims what Spark's ContextCleaner released
    * for objects the first one found unreachable.
    */
  def sampleHeap(forceGc: Boolean): Unit = {
    if (forceGc) { System.gc(); Thread.sleep(200); System.gc() }
    oldGen.flatMap(p => Option(p.getCollectionUsage)).foreach { u =>
      peakOldGenMb = math.max(peakOldGenMb, u.getUsed / 1048576.0)
    }
  }

  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** The measured region: repeats `pass(i)` until `seconds` have
    * elapsed (at least once), then records the region's wall and CPU
    * time and, when traced, the engine counters per pass.
    */
  def measure(pass: Int => Unit): Unit = {
    if (traced) { org.apache.spark.BusDrain(spark.sparkContext); trace.reset() }
    val cpu0 = processCpuS
    val gc0 = gcS
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) { pass(n); n += 1 }
    val wallS = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    out("passes") = n
    out("measured_s") = wallS
    out("cpu_s") = processCpuS - cpu0
    if (traced) {
      org.apache.spark.BusDrain(spark.sparkContext)
      val snap = trace.snapshot
      Seq("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes")
        .foreach(k => layers(s"spark.$k") = snap(k) / n)
      layers("spark.driver_gap_s") = trace.driverGapMs(wall0, wall1) / 1e3 / n
      layers("spark.gc_s") = (gcS - gc0) / n
      layers("spark.task_skew") = trace.taskSkew
      layers("spark.storage_mb") =
        spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
      out("engine") = snap
    }
    sampleHeap(forceGc = true)
  }

  // ---- files -------------------------------------------------------------

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  /** Published artifacts in an index store: `<name>-v<n>/<fp>` dirs
    * holding a `_publish` sentinel, with the dir's mtime (IndexStore
    * bumps it on every reuse).
    */
  def published(store: Path): Map[String, Long] =
    if (!Files.isDirectory(store)) Map.empty
    else {
      val names = Files.list(store)
      try names.iterator().asScala.toSeq.flatMap { n =>
        val fps = Files.list(n)
        try fps.iterator().asScala.toSeq
          .filter(fp => Files.isDirectory(fp.resolve("_publish")))
          .map(fp => s"${n.getFileName}/${fp.getFileName}" -> Files.getLastModifiedTime(fp).toMillis)
        finally fps.close()
      }.toMap
      finally names.close()
    }

  /** Forces one Prebuild artifact and classifies the outcome from the
    * store directory, not from `Prebuild.force`'s label: a newly
    * published sentinel is "built", a bumped one is "reused", neither
    * means this JVM's memo served it. Ops with a negative pass lie
    * outside the measured region; `record = false` keeps set-up work
    * out of the op list altogether.
    */
  def forceArtifact(name: String, d: String, store: Path, pass: Int,
      outcomes: mutable.Map[String, String], record: Boolean = true): Op = {
    val build = graft.Prebuild.all.toMap.apply(name)
    val before = published(store)
    Thread.sleep(2) // mtime granularity: a reuse must read as a later bump
    val op = timed(s"prebuild.$name", s"prebuild.$name", pass, record) {
      graft.Prebuild.force(name, build, spark, d)
    }
    val after = published(store)
    outcomes(name) =
      if ((after.keySet -- before.keySet).nonEmpty) "built"
      else if (after.exists { case (k, t) => before.get(k).exists(_ < t) }) "reused"
      else "memo"
    spark.catalog.clearCache()
    op
  }

  def recordOutcomes(outcomes: collection.Map[String, String]): Unit = {
    out("prebuild_outcomes") = outcomes.toMap
    layers("prebuild.built") = outcomes.values.count(_ == "built").toDouble
    layers("prebuild.reused") = outcomes.values.count(_ == "reused").toDouble
  }

  // ---- result ------------------------------------------------------------

  def write(path: String): Unit = {
    out("workload") = workload
    out("trace") = traced
    out("setup_s") = setupS
    out("setup_parts") = (Map("session" -> sessionStartS) ++ setupParts).toMap
    out("peak_heap_mb") = peakOldGenMb
    out("ops") = ops.toSeq.map(o =>
      Map("kind" -> o.kind, "ms" -> o.ms, "pass" -> o.pass, "ok" -> o.ok, "err" -> o.err))
    if (traced) {
      layers("sessions.start_s") = sessionStartS
      out("layers") = layers.toMap
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(path), json.writeValueAsString(out.toMap))
  }
}

object Harness {

  /** Per-operation cap; the slowest operation takes about 15 s. */
  val CapSec = 120L

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val h = new Harness(args)
    try {
      args("workload") match {
        case "refresh"     => Refresh.run(h)
        case "serve"       => Serve.run(h, args("script"))
        case "fixtures"    => Fixtures.run(h)
        case other         => throw new IllegalArgumentException(s"unknown workload $other")
      }
      h.write(args("out"))
    } catch { case e: Throwable => h.stopSession(); throw e }
    // The result is written. An orderly Spark stop and the shutdown hooks
    // would only clean the run directory, which run.py removes, and they
    // take seconds of each run's budget.
    Runtime.getRuntime.halt(0)
  }
}
