package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: runs one workload for `--seconds` of timed units
  * after set-up and warm-up, checks every unit's output, and writes a result
  * record for run.py. Usage (run.py passes all of these):
  * {{{
  * perfbench.Main --workload <extract_bulk|query_mix> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --tables <dir> --spawn-ms <epoch ms>
  *   --result <file>
  * }}} */
object Main {

  /** extract_bulk: one single-wave job over a 6k-doc corpus at P = 16,
    * small enough that set-up, warm-up and three units fit one run. */
  val BulkDocs = 6000
  val BulkP = 16
  val BulkWarmUnits = 7

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val work = a("work")
    val tables = a("tables")
    val res = new Result
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(work)
    log("session started")
    val probe = new Probe(spark)
    res.info("cpus", cpus.toString)
    res.info("jvm_flags", java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.mkString(" "))
    def setupDone(): Unit = {
      res.metric("setup_s", (System.currentTimeMillis() - a("spawn-ms").toLong) / 1e3, "s")
      log("set up and warmed up")
    }
    def report(s: Seq[Sample], docs: Double, outBytes: Double): Double = {
      val runS = median(s.map(_.wall)); val cpuS = median(s.map(_.cpu))
      res.metric("run_s", runS, "s")
      res.metric("docs_per_s", docs / runS, "1/s")
      res.metric("task_cpu_s", cpuS, "s")
      res.metric("docs_per_cpu_s", docs / cpuS, "1/s")
      res.metric("output_bytes_per_doc", outBytes / docs, "bytes")
      res.metric("peak_heap_mb", median(s.map(_.heapMb)), "MB")
      res.info("samples", s.size.toString)
      res.info("unit_walls_s", s.map(x => f"${x.wall}%.3f").mkString(" "))
      runS
    }
    try workload match {
      case "extract_bulk" =>
        val eb = new ExtractBench(spark, probe, work, BulkDocs, BulkP, seed, res)
        val exp = eb.setup()
        // unit walls keep dropping for about seven units while the JIT settles
        (1 to BulkWarmUnits).foreach(_ => eb.warm())
        setupDone()
        val s = timed(seconds, 3)(eb.sample(exp))
        val runS = report(s, exp.docsIn.toDouble, median(s.map(_.outBytes)))
        if (a("trace") == "1") {
          traceExtraction(eb, exp, res, Some(runS))
          traceQueries(new QueryBench(spark, probe, tables, seed, res), res, None)
        }
      case "query_mix" =>
        val qb = new QueryBench(spark, probe, tables, seed, res)
        qb.pass()
        qb.pass(Some(s"$work/qcheck"))
        qb.writeOracles(s"$work/oracle_sql.json")
        setupDone()
        val s = timed(seconds, 3)(qb.pass())
        val docs = spark.read.parquet(s"$tables/documents.parquet").count().toDouble
        val runS = report(s, docs, Fs.parquetBytes(s"$work/qcheck").toDouble)
        if (a("trace") == "1") {
          traceQueries(qb, res, Some(runS))
          val eb = new ExtractBench(spark, probe, work, BulkDocs, BulkP, seed, res)
          val exp = eb.setup()
          eb.sample(exp)
          traceExtraction(eb, exp, res, None)
        }
    } catch {
      case e: Throwable =>
        res.fail(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      res.write(a("result"))
      spark.stop()
    }
  }

  /** A session at local[nproc] whose warehouse and scratch space live in
    * `work`, so no run reuses another's stores. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The extraction traces every traced run reports: one listener-traced
    * bulk unit (`job.*`), one traced resume unit (`resume.*`, `checkpoint.*`),
    * the layer ladder and the kernel alone. `untracedRunS`, the untraced
    * median of the same unit, gives the tracing overhead. */
  private def traceExtraction(eb: ExtractBench, exp: Expected, res: Result, untracedRunS: Option[Double]): Unit = {
    val job = eb.traceUnit(exp, ExtractShape.Bulk, "job", checkpoint = false)
    untracedRunS.foreach(m => res.metric("trace.overhead_s", job._1 - m, "s"))
    eb.traceUnit(exp, ExtractShape.resume(eb.p), "resume", checkpoint = true)
    eb.ladder(job)
    eb.kernelSelf(1.0)
    log("extraction traced")
  }

  /** The query traces every traced run reports: one pass with per-query
    * records, after a cold pass unless `qb` already ran its passes; then
    * `untracedRunS` gives the tracing overhead. */
  private def traceQueries(qb: QueryBench, res: Result, untracedRunS: Option[Double]): Unit = {
    if (untracedRunS.isEmpty) qb.pass()
    val wall = qb.tracedPass()
    untracedRunS.foreach(m => res.metric("trace.overhead_s", wall - m, "s"))
    log("queries traced")
  }

  /** Runs `unit` back to back until the timed walls add up to `seconds`
    * and at least `min` samples were taken. */
  private def timed(seconds: Double, min: Int)(unit: => Sample): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    while (out.size < min || out.map(_.wall).sum < seconds) out += unit
    out.toSeq
  }

  private val t0 = System.nanoTime()

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Progress line for the run's log (run.py echoes these to stderr). */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** One timed unit: wall and task CPU seconds, output bytes, and the
  * largest heap occupancy after a GC while it ran (`Heap.peakMb`). */
final case class Sample(wall: Double, cpu: Double, outBytes: Double, heapMb: Double)

/** The Java heap's occupancy after each garbage collection, from the JVM's
  * GC notifications. Unlike the process's resident set, this moves with what
  * the program keeps live, not with how far the collector grew or touched
  * the heap. `peakMb` adds the non-heap pools (metaspace, code cache). */
object Heap extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var peak = 0L
  private var notified = 0L

  collectors.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  /** Collections before the listener was added, which it never hears of. */
  private val unheard = collections

  private def collections: Long = collectors.map(_.getCollectionCount).sum

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used); notified += 1 }
    }

  /** Waits until the notifications of every collection so far have arrived
    * (they come from another thread, a little after each collection). */
  private def caughtUp(): Unit = {
    val want = collections - unheard
    val t0 = System.nanoTime()
    while (synchronized(notified) < want && System.nanoTime() - t0 < 500000000L) Thread.sleep(1)
  }

  /** Collects the garbage of what ran before and starts a new peak, so
    * that the next peak counts only what the next unit allocated and kept. */
  def start(): Unit = { System.gc(); caughtUp(); synchronized { peak = 0L } }

  def peakMb: Double = {
    caughtUp()
    val nonHeap = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed
    (synchronized(peak) + nonHeap) / 1048576.0
  }
}

/** What a run reports: metrics with units, op counts and the first errors. */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val infos = mutable.LinkedHashMap.empty[String, String]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def info(k: String, v: String): Unit = infos(k) = v

  /** Records one checked operation with the problems found in it. */
  def op(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; errors ++= problems.take(5) }
  }

  def fail(msg: String): Unit = { attempted += 1; failed += 1; errors += msg }

  /** Records `n` operations that either completed or threw (which fails the run). */
  def ran(n: Int): Unit = attempted += n

  def write(path: String): Unit = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    val json = s"""{"attempted": $attempted, "failed": $failed,
      |"metrics": {${m.mkString(",\n")}},
      |"errors": [${errors.take(20).map(Json.str).mkString(", ")}],
      |"info": {${infos.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString(", ")}}}
      |""".stripMargin
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}

object Fs {
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f)) finally s.close()
    }
  }

  /** Bytes of the parquet files under `path`. */
  def parquetBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => f.toString.endsWith(".parquet")).map(f => Files.size(f)).sum
      finally s.close()
    }
  }
}
