package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Doc, Spec, TableIO}
import graft.gen.SpanGen
import graft.job.{Checkpoint, ExtractJob}
import graft.kernel.Extractor

/** How a unit calls the job: `waveSize` pids per wave (0 = one wave); with
  * `firstWaves > 0` the unit is `run(maxWaves = firstWaves)` followed by
  * `run(resume = true)`. */
final case class ExtractShape(waveSize: Int, firstWaves: Int) {
  def resumes: Boolean = firstWaves > 0
}

object ExtractShape {
  val Bulk = ExtractShape(waveSize = 0, firstWaves = 0)
  /** 8 waves of P/8 pids, split 4 + 4 by a resume. */
  def resume(p: Int) = ExtractShape(waveSize = p / 8, firstWaves = 4)
}

/** Extraction units over one seeded corpus at `p` partitions. Every unit
  * writes into a fresh directory, is checked against the golden
  * expectations outside its timed region, and is then deleted. */
final class ExtractBench(spark: SparkSession, probe: Probe, work: String,
    nDocs: Int, val p: Int, seed: Long, res: Result) {

  val corpus = Corpus(seed, nDocs, oversizeEvery = 3000)
  val input = s"$work/corpus"
  private var unitNo = 0
  private var lastReports: Seq[ExtractJob.Report] = Nil

  /** Writes the corpus and computes the expectations. */
  def setup(): Expected = {
    Fs.delete(input)
    corpus.write(spark, input)
    Main.log("corpus written")
    val exp = Expected.compute(spark, corpus, input, p)
    Main.log("expectations computed")
    exp
  }

  private def nextOut(): String = { unitNo += 1; s"$work/out_$unitNo" }

  /** Runs one unit into `out` and returns its wall seconds. */
  private def runUnit(shape: ExtractShape, out: String): Double = {
    val id = s"u$unitNo"
    val t0 = System.nanoTime()
    lastReports =
      if (shape.resumes) Seq(
        ExtractJob.run(spark, input, out, id, p, waveSize = shape.waveSize, maxWaves = shape.firstWaves),
        ExtractJob.run(spark, input, out, id, p, resume = true, waveSize = shape.waveSize))
      else Seq(ExtractJob.run(spark, input, out, id, p, waveSize = shape.waveSize))
    (System.nanoTime() - t0) / 1e9
  }

  /** Problems in the output of the unit just run into `out`. */
  private def check(exp: Expected, shape: ExtractShape, out: String): Seq[String] = {
    val reports = lastReports
    val errs = Seq.newBuilder[String]
    errs ++= Expected.check(spark, exp, out)
    val in = reports.map(_.docsIn).sum; val outN = reports.map(_.docsOut).sum
    val q = reports.map(_.quarantined).sum
    if ((in, outN, q) != ((exp.docsIn, exp.docsOut, exp.quarantined.size.toLong)))
      errs += s"report totals in=$in out=$outN quarantined=$q, want ${exp.docsIn}/${exp.docsOut}/${exp.quarantined.size}"
    if (shape.resumes) errs ++= Expected.checkResume(spark, p, out, reports.head, reports.last)
    errs.result()
  }

  /** Runs and deletes one bulk unit, unchecked and untimed: warm-up. */
  def warm(): Unit = {
    val out = nextOut()
    val wall = runUnit(ExtractShape.Bulk, out)
    Fs.delete(out)
    Main.log(f"warm-up unit $unitNo: $wall%.3f s wall, jit ${Main.jitMs} ms")
  }

  /** Runs, checks and deletes one bulk unit. */
  def sample(exp: Expected): Sample = {
    val out = nextOut()
    Heap.start()
    probe.mark()
    val wall = runUnit(ExtractShape.Bulk, out)
    val heapMb = Heap.peakMb
    val cpu = probe.cpuS
    val bytes = Fs.parquetBytes(s"$out/data").toDouble
    res.op(check(exp, ExtractShape.Bulk, out))
    Fs.delete(out)
    Main.log(f"unit $unitNo: $wall%.3f s wall, $cpu%.3f s task cpu, $heapMb%.0f MB heap, jit ${Main.jitMs} ms")
    Sample(wall, cpu, bytes, heapMb)
  }

  // ------------------------------------------------------------- tracing

  /** The cumulative layer ladder: each rung adds one
    * layer of the job's plan; the first four are forced by a noop write,
    * `write` by a plain parquet write. The top rung, `job`, is the whole
    * `ExtractJob.run`: the traced bulk unit's (wall s, task cpu s), `job`.
    * Reports wall and task CPU per rung. */
  def ladder(job: (Double, Double)): Unit = {
    import spark.implicits._
    def scan = TableIO.read(spark, input).select(col("doc_id"), col("spans"))
    def shuffled = scan.repartition(p, col("doc_id"), lit(Spec.Salt))
    def decoded = shuffled.as[Doc].map(identity)
    // the job quarantines oversize docs before the kernel; so does this rung
    def kernel = shuffled.as[Doc].filter(d => d.spans.length <= Spec.MaxDocSpans).map(Extractor.extractDoc)
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val rungs: Seq[(String, String => Unit)] = Seq(
      "scan" -> (_ => noop(scan)),
      "shuffle" -> (_ => noop(shuffled)),
      "decode" -> (_ => noop(decoded.toDF())),
      "kernel" -> (_ => noop(kernel.toDF())),
      "write" -> (out => TableIO.write(kernel.toDF(), out, SaveMode.Overwrite.name())))
    val walls = rungs.map { case (name, body) =>
      val out = s"$work/ladder_$name"
      probe.mark(detail = true)
      val t0 = System.nanoTime()
      body(out)
      val wall = (System.nanoTime() - t0) / 1e9
      val st = probe.stageRecs
      Fs.delete(out)
      res.metric(s"layer.$name.wall_s", wall, "s")
      res.metric(s"layer.$name.cpu_s", st.map(_.cpuNs).sum / 1e9, "s")
      name match {
        case "shuffle" =>
          res.metric("layer.shuffle.bytes", st.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
          val rows = st.maxBy(_.recordsRead.sum).recordsRead
          res.metric("layer.shuffle.skew", rows.max.toDouble / (rows.sum.toDouble / rows.size), "ratio")
        case "write" =>
          res.metric("layer.write.bytes", st.map(_.outputBytes).sum.toDouble, "bytes")
        case _ =>
      }
      name -> wall
    }.toMap
    res.metric("layer.job.wall_s", job._1, "s")
    res.metric("layer.job.cpu_s", job._2, "s")
    res.metric("layer.job.tax_s", job._1 - walls("write"), "s")
  }

  /** Single-thread `extractDoc` on an in-memory sample, no Spark. */
  def kernelSelf(seconds: Double): Unit = {
    val docs = corpus.offsets.take(2000).map(i => SpanGen.genDoc(SpanGen.docId(corpus.base + i))).toArray
    docs.foreach(Extractor.extractDoc)
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9) { Extractor.extractDoc(docs((n % docs.length).toInt)); n += 1 }
    res.metric("kernel.self.docs_per_s", n / ((System.nanoTime() - t0) / 1e9), "1/s")
  }

  /** Listener breakdown of one traced unit, as `<prefix>.*`: jobs, tasks,
    * where the CPU went (shuffle-map vs file-writing stages), write-task
    * times, the wall of the other (read-back and listing) jobs, driver wall
    * outside any job, GC and deserialization; with `checkpoint`, also the
    * manifest listing as `checkpoint.*`. Returns the unit's wall and task
    * CPU seconds. */
  def traceUnit(exp: Expected, shape: ExtractShape, prefix: String, checkpoint: Boolean): (Double, Double) = {
    val out = nextOut()
    probe.mark(detail = true)
    val t0 = System.currentTimeMillis()
    val wall = runUnit(shape, out)
    val t1 = System.currentTimeMillis()
    val st = probe.stageRecs
    val jobs = probe.jobs
    res.op(check(exp, shape, out))
    val writeIds = st.filter(_.outputBytes > 0).map(_.id).toSet
    val mapIds = st.filter(s => s.shuffleWriteBytes > 0 && !writeIds(s.id)).map(_.id).toSet
    val other = jobs.filterNot(j => j.stageIds.exists(writeIds) || j.stageIds.forall(mapIds))
    val taskMs = st.filter(s => writeIds(s.id)).flatMap(_.taskMs).sorted
    def cpu(ids: Set[Int]) = st.filter(s => ids(s.id)).map(_.cpuNs).sum / 1e9
    res.metric(s"$prefix.jobs", jobs.size.toDouble, "count")
    res.metric(s"$prefix.tasks", st.map(_.tasks).sum.toDouble, "count")
    res.metric(s"$prefix.map_stage.cpu_s", cpu(mapIds), "s")
    res.metric(s"$prefix.write_stage.cpu_s", cpu(writeIds), "s")
    res.metric(s"$prefix.write_stage.task_p50_ms", taskMs(taskMs.size / 2).toDouble, "ms")
    res.metric(s"$prefix.write_stage.task_max_ms", taskMs.last.toDouble, "ms")
    res.metric(s"$prefix.readback.wall_s", other.map(j => j.end - j.start).sum / 1e3, "s")
    res.metric(s"$prefix.driver_gap_s", probe.driverGapS(t0, t1), "s")
    res.metric(s"$prefix.gc_s", st.map(_.gcMs).sum / 1e3, "s")
    res.metric(s"$prefix.deser_s", st.map(_.deserMs).sum / 1e3, "s")
    res.metric(s"$prefix.wall_s", wall, "s")
    if (checkpoint) {
      val hconf = spark.sessionState.newHadoopConf()
      val listMs = (1 to 5).map { _ =>
        val t = System.nanoTime(); Checkpoint.completedPids(out, hconf); (System.nanoTime() - t) / 1e6
      }
      res.metric("checkpoint.manifests", Checkpoint.completedPids(out, hconf).size.toDouble, "count")
      res.metric("checkpoint.completed_pids_ms", Main.median(listMs), "ms")
    }
    Fs.delete(out)
    (wall, st.map(_.cpuNs).sum / 1e9)
  }
}
