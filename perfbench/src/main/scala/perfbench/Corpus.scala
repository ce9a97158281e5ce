package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Checksums, Doc, Span, Spec, TableIO}
import graft.gen.SpanGen
import graft.golden.GoldenExtractor
import graft.job.{Checkpoint, ExtractJob}

/** A seeded extraction corpus and everything needed to check a job's output
  * against it. The seed picks the doc-id namespace; content comes from
  * `SpanGen.genDoc(id)`. One doc in `oversizeEvery` is replaced by a planted
  * oversize doc (more than `Spec.MaxDocSpans` spans, made by concatenating
  * genDoc spans) so the job's oversize guard and quarantine path run.
  *
  * The normal docs are the first ones of the namespace, in id order, that
  * fill fixed quotas per genDoc size tier (up to 30 spans; 60 to 179; 400
  * and more), in genDoc's own proportions: 1.5% and 0.1% in the long tiers.
  * Drawn freely, 6k docs hold 6 ± 2.5 of the 400+ span docs, so seeds would
  * differ by several percent in how much work a run is; with quotas they
  * differ in content only. */
final case class Corpus(seed: Long, nDocs: Int, oversizeEvery: Int) {

  /** First doc number of this seed's namespace (ids stay 9 digits). */
  val base: Long = Math.floorMod(MurmurHash3.mix(0x6b0f, seed.toInt), 900).toLong * 1000000L

  val nOversize: Int = nDocs / oversizeEvery

  def oversizeId(j: Int): String = f"x${base / 1000000L}%03d-$j%04d"

  def oversizeIds: Set[String] = (0 until nOversize).map(oversizeId).toSet

  /** Namespace offsets of the normal docs, filling the size-tier quotas. */
  lazy val offsets: IndexedSeq[Long] = {
    val n = nDocs - nOversize
    val mid = math.round(n * 0.015).toInt
    val long = math.round(n * 0.001).toInt
    val left = Array(n - mid - long, mid, long)
    def tier(spans: Int) = if (spans <= 30) 0 else if (spans < 400) 1 else 2
    val out = IndexedSeq.newBuilder[Long]
    var i = 0L
    while (left.exists(_ > 0)) {
      require(i < oversizeSource, s"size-tier quotas not filled by $i docs")
      val t = tier(SpanGen.genDoc(SpanGen.docId(base + i)).spans.length)
      if (left(t) > 0) { left(t) -= 1; out += i }
      i += 1
    }
    out.result()
  }

  /** Namespace offset, past any normal doc, where planted docs take spans from. */
  private val oversizeSource = 500000L

  def write(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val c = this
    val normal = spark.createDataset(spark.sparkContext.parallelize(offsets, 8))
      .map(i => SpanGen.genDoc(SpanGen.docId(c.base + i)))
    val big = spark.range(0L, nOversize.toLong, 1L, 1).map(j => c.oversizeDoc(j.toInt))
    TableIO.write(normal.union(big).toDF(), path)
  }

  /** Spans of consecutive genDocs from `oversizeSource` on, renumbered,
    * until the doc holds more spans than the job's budget. */
  def oversizeDoc(j: Int): Doc = {
    val spans = Vector.newBuilder[Span]
    var n = 0
    var k = 0L
    while (n <= Spec.MaxDocSpans) {
      SpanGen.genDoc(SpanGen.docId(base + oversizeSource + j * 1000L + k)).spans.foreach { s =>
        spans += s.copy(offset = n); n += 1
      }
      k += 1
    }
    Doc(oversizeId(j), spans.result())
  }

  /** Doc ids whose full span sequences every check compares. */
  def sampleIds(n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(SpanGen.docId(base + offsets(r.nextInt(offsets.size)))).distinct
  }
}

/** What a correct `ExtractJob` output holds for one corpus at `P`
  * partitions: per pid (docs_in, docs_out, checksum) from the golden
  * extractor, the quarantined ids, and golden span sequences of a sample. */
final case class Expected(
    p: Int,
    lineage: Map[Int, (Long, Long, String)],
    quarantined: Set[String],
    sample: Map[String, Seq[Span]]) {

  def docsIn: Long = lineage.values.map(_._1).sum
  def docsOut: Long = lineage.values.map(_._2).sum
}

object Expected {

  def compute(spark: SparkSession, corpus: Corpus, path: String, p: Int): Expected = {
    import spark.implicits._
    val rows = TableIO.read(spark, path).select(col("doc_id"), col("spans")).as[Doc]
      .map { d =>
        val chars = d.spans.iterator.map(s => if (s.text == null) 0L else s.text.length.toLong).sum
        if (d.spans.length > Spec.MaxDocSpans || chars > Spec.MaxDocChars) (d.doc_id, 0, 0L)
        else (d.doc_id, 1, Checksums.docDigest(GoldenExtractor.extract(d)))
      }.toDF("doc_id", "ok", "digest")
      .withColumn("pid", pmod(hash(col("doc_id"), lit(Spec.Salt)), lit(p)))
      .groupBy(col("pid"))
      .agg(count(lit(1)), sum(col("ok")), bit_xor(col("digest")))
      .as[(Int, Long, Long, Long)].collect()
    val lineage = rows.map { case (pid, in, out, x) => pid -> (in, out, Checksums.render(x)) }.toMap
    val sample = corpus.sampleIds(64).map { id =>
      id -> GoldenExtractor.extract(SpanGen.genDoc(id)).spans
    }.toMap
    Expected(p, lineage, corpus.oversizeIds, sample)
  }

  /** Problems found in one job output; empty when it is correct. */
  def check(spark: SparkSession, exp: Expected, out: String): Seq[String] = {
    import spark.implicits._
    val errs = Seq.newBuilder[String]
    val lin = ExtractJob.readLineage(spark, out).collect()
    val byPid = lin.groupBy(_.partition_id)
    (0 until exp.p).foreach { pid =>
      val want = exp.lineage.getOrElse(pid, (0L, 0L, Checksums.render(0L)))
      byPid.get(pid) match {
        case Some(Array(r)) if (r.docs_in, r.docs_out, r.checksum) == want =>
        case other => errs += s"lineage pid=$pid: got ${other.map(_.mkString(",")).getOrElse("none")}, want $want"
      }
    }
    byPid.keys.filterNot(k => k >= 0 && k < exp.p).foreach(k => errs += s"lineage for unknown pid $k")
    val quar = ExtractJob.readQuarantine(spark, out).select(col("doc_id")).as[String].collect()
    if (quar.sorted.toSeq != exp.quarantined.toSeq.sorted)
      errs += s"quarantine ids ${quar.sorted.mkString(",")} != planted ${exp.quarantined.toSeq.sorted.mkString(",")}"
    val got = ExtractJob.readSpans(spark, out)
      .where(col("doc_id").isin(exp.sample.keys.toSeq: _*)).collect()
      .groupBy(_.doc_id)
    exp.sample.foreach { case (id, want) =>
      got.get(id) match {
        case Some(Array(d)) if d.spans == want =>
        case Some(Array(d)) => errs += s"spans of $id differ from golden (${d.spans.size} vs ${want.size} spans)"
        case other => errs += s"doc $id appears ${other.map(_.length).getOrElse(0)} times in spans"
      }
    }
    errs.result()
  }

  /** Checkpoint invariants of a resumed run: the manifests cover 0..P-1,
    * the two calls processed disjoint pid sets, and the resumed call
    * skipped exactly what the first call processed. */
  def checkResume(spark: SparkSession, p: Int, out: String,
      first: ExtractJob.Report, second: ExtractJob.Report): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val done = Checkpoint.completedPids(out, spark.sessionState.newHadoopConf())
    if (done != (0 until p).toSet) errs += s"manifests cover ${done.size} pids, want 0..${p - 1}"
    val both = first.processedPids ++ second.processedPids
    if (both.sorted != (0 until p)) errs += s"processed pids overlap or miss: ${both.size} entries"
    if (second.skippedPids.sorted != first.processedPids.sorted)
      errs += s"resume skipped ${second.skippedPids.size} pids, first call processed ${first.processedPids.size}"
    errs.result()
  }
}
