package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/README.md). */
final case class Cfg(workload: String, seed: Long, seconds: Int, trace: Boolean,
                     root: String, work: String, data: Option[String], smoke: Boolean) {
  val cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())
}

object Cfg {
  def parse(args: Array[String]): Cfg = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Cfg(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), need("work"), kv.get("data"),
      kv.get("smoke").contains("1"))
  }
}

/** One operation's outcome in the measured window. */
final case class Sample(op: Long, kind: String, startNs: Long, endNs: Long,
                        ok: Boolean, traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Everything a workload needs: the config, the current session, the
  * directories, and the harness's counters. */
final class Ctx(val cfg: Cfg) {
  var spark: SparkSession = _
  val inputs: String = s"${cfg.work}/inputs"
  val out: String = s"${cfg.work}/out"
  /** Directory the program reads: the generated inputs, or `--data`. */
  def dir: String = cfg.data.getOrElse(inputs)
  /** Failed end-of-run checks. */
  val failures = mutable.ArrayBuffer.empty[String]
  def check(cond: Boolean, msg: => String): Unit = synchronized { if (!cond) failures += msg }

  /** Builds a fresh local session with all scratch space in the work
    * directory. */
  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    val s = graft.Sessions.builder(cfg.cpus.toString)
      .config("spark.local.dir", s"${cfg.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${cfg.work}/checkpoints")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    s
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Cfg.parse(args)
    val ctx = new Ctx(cfg)
    val wl = Workload(cfg.workload, ctx)
    val heap = new HeapWatch

    // set-up: fresh session, inputs, warm-up — several times, median kept
    val setups = (0 until (if (cfg.smoke) 1 else 3)).map { _ =>
      val t0 = System.nanoTime()
      ctx.newSession()
      val t1 = System.nanoTime()
      wl.generate()
      val t2 = System.nanoTime()
      wl.warm()
      val t3 = System.nanoTime()
      System.err.println(f"[graftbench] setup: session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t3 - t2) / 1e9}%.2f s")
      (t3 - t0) / 1e9
    }
    val tRef = System.nanoTime()
    wl.reference()
    val refS = (System.nanoTime() - tRef) / 1e9

    val engine = if (cfg.trace) Some(new EngineListener) else None
    engine.foreach(ctx.spark.sparkContext.addSparkListener)
    val cpu0 = processCpuNs()
    heap.start()
    val window0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val samples = wl.measure(t0 + cfg.seconds * 1000000000L)
    val wallS = (System.nanoTime() - t0) / 1e9
    val window = (window0, System.currentTimeMillis())
    val cpuS = (processCpuNs() - cpu0) / 1e9
    heap.stop()
    wl.finish()

    val attempted = samples.size
    val failedOps = samples.count(!_.ok)
    val failed = math.min(attempted, failedOps + ctx.failures.size)
    val untraced = samples.filter(!_.traced)
    val ms = (if (untraced.nonEmpty) untraced else samples).map(_.ms)

    val metrics: Seq[(String, Double, String)] =
      if (!cfg.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("op_p50_ms", Stats.median(ms), "ms"),
        ("ops_per_s", samples.size / wallS, "1/s"),
        ("peak_heap_mb", heap.peakMb, "MB"))
      else Layers.metrics(ctx, wl, engine.get, samples.filter(_.traced), untraced, window,
        cpuS / math.max(1, samples.size))
    if (cfg.trace) Trace.write(s"${cfg.work}/../trace-${cfg.workload}-seed${cfg.seed}.jsonl")
    ctx.failures.take(20).foreach(f => System.err.println(s"CHECK FAILED: $f"))
    System.err.println(f"[graftbench] ${cfg.workload} seed=${cfg.seed}: ${samples.size} ops " +
      f"in $wallS%.1f s, setups=${setups.map(x => f"$x%.2f").mkString(",")} s, reference=$refS%.1f s, " +
      f"jvm uptime=${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

    val quarters = samples.grouped(math.max(1, (samples.size + 3) / 4)).map(q => f"${Stats.median(q.map(_.ms))}%.0f").mkString("/")
    System.err.println(f"[graftbench] median ms by quarter $quarters; by kind: " + samples.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, xs) => f"$k ${Stats.median(xs.map(_.ms))}%.0f×${xs.size}" }.mkString(", "))
    ctx.spark.stop()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.exit(0)
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Peak old-generation occupancy after a full collection, over the
  * measured window. Young collections are ignored (what they leave in
  * the old generation depends on when they happen to run); a full
  * collection at the end of the window bounds the peak from below with
  * the heap the run keeps live. */
final class HeapWatch {
  @volatile private var on = false
  @volatile private var peak = 0L
  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
  private def isFull(gc: String) = gc.contains("Old") || gc.contains("MarkSweep")

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (isFull(info.getGcName)) info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (isOld(pool)) peak = math.max(peak, u.getUsed)
          }
        }
      }, null, null)
    case _ =>
  }

  def start(): Unit = { peak = 0L; on = true }
  def stop(): Unit = {
    on = false
    // the second collection also frees what the first one handed to
    // Spark's ContextCleaner (broadcasts, shuffles of dropped plans)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Runs `clients` closed-loop clients until `deadline`: each client
  * issues its next operation when the previous one returns. In a
  * traced run every other operation is traced; the untraced half gives
  * the tracing overhead. */
object ClosedLoop {
  def run(ctx: Ctx, clients: Int, deadline: Long)(op: (Int, Long) => String): Seq[Sample] = {
    val ids = new AtomicLong(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val id = ids.incrementAndGet()
          val traced = ctx.cfg.trace && id % 2 == 1
          ctx.spark.sparkContext.setLocalProperty(EngineListener.OpKey, id.toString)
          val t0 = System.nanoTime()
          val (kind, ok) =
            try (Trace.operation(id, traced)(op(c, id)), true)
            catch { case e: Throwable =>
              System.err.println(s"OP FAILED $id: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
              ("error", false)
            }
          out.add(Sample(id, kind, t0, System.nanoTime(), ok, traced))
        }
      }, s"client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_.startNs)
  }
}
