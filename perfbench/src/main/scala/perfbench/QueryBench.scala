package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query workload: 5 fixed `SparkEntry.queries` over seeded tables, in
  * a seed-permuted order, each forced by a noop write. A unit is one pass
  * over all of them. Results are checked against each query's `oracleSql`
  * in DuckDB by run.py, from the parquet the check pass writes. */
object QueryBench {

  /** One query per family, so that a pass and its DuckDB check fit one run.
    * The graph family (gr_*) is left out: its cold warehouse builds and
    * 24-job passes alone would take a third of the run budget. */
  val families: Seq[(String, Seq[String])] = Seq(
    "dd" -> Seq("dd_minhash_pairs"),
    "ta" -> Seq("ta_contamination"),
    "ent" -> Seq("j5_golden_compare"),
    "sim" -> Seq("sim_ann_ivf"),
    "sql" -> Seq("q1_agg"))

  val names: Seq[String] = families.flatMap(_._2)
}

final class QueryBench(spark: SparkSession, probe: Probe, tables: String, seed: Long, res: Result) {
  import QueryBench._

  val order: Seq[String] = new scala.util.Random(seed).shuffle(names)

  /** One pass. `out = Some(dir)` writes each result as parquet for the
    * oracle check instead of the noop sink. Each query starts after a full
    * GC, outside its timed region, so its heap peak holds its own garbage
    * only, whichever queries ran before it; the pass's peak is the largest. */
  def pass(out: Option[String] = None): Sample = {
    probe.mark()
    val (walls, peaks) = order.map { q =>
      Heap.start()
      val t = System.nanoTime()
      runOne(q, out)
      ((System.nanoTime() - t) / 1e9, Heap.peakMb)
    }.unzip
    val wall = walls.sum
    val heapMb = peaks.max
    res.ran(order.size)
    val each = order.indices.map(i => f"${order(i)} ${walls(i)}%.2f s ${peaks(i)}%.0f MB")
    Main.log(f"pass: $wall%.3f s, $heapMb%.0f MB heap (${each.mkString(", ")})")
    Sample(wall, probe.cpuS, 0.0, heapMb)
  }

  private def runOne(q: String, out: Option[String]): Unit = {
    val df = SparkEntry.queries(q)(spark, tables)
    out match {
      case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
      case None => df.write.mode("overwrite").format("noop").save()
    }
  }

  /** The queries' oracle SQL, placeholders resolved, for run.py. */
  def writeOracles(path: String): Unit = {
    val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    val json = names.map { q =>
      val sql = SparkEntry.oracleSql(q).replace("__SF_DIR__", tables).replace("__WAREHOUSE__", warehouse)
      s"${Json.str(q)}: ${Json.str(sql)}"
    }.mkString("{", ",\n", "}")
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }

  /** A pass with per-query listener records: wall and job count per query,
    * and wall, task CPU, driver time outside jobs and shuffle bytes per
    * family. Returns the pass wall. */
  def tracedPass(): Double = {
    val perQuery = traceEach()
    res.ran(order.size)
    names.foreach { q =>
      res.metric(s"query.$q.wall_s", perQuery(q).wall, "s")
      res.metric(s"query.$q.jobs", perQuery(q).jobs.toDouble, "count")
    }
    families.foreach { case (f, qs) =>
      val rs = qs.map(perQuery)
      res.metric(s"family.$f.wall_s", rs.map(_.wall).sum, "s")
      res.metric(s"family.$f.cpu_s", rs.map(_.cpu).sum, "s")
      res.metric(s"family.$f.driver_gap_s", rs.map(_.driverGap).sum, "s")
      res.metric(s"family.$f.shuffle_bytes", rs.map(_.shuffleBytes).sum.toDouble, "bytes")
    }
    perQuery.values.map(_.wall).sum
  }

  /** Runs each query once with listener records. */
  def traceEach(): Map[String, QueryTrace] = order.map { q =>
    probe.mark(detail = true)
    val t0 = System.currentTimeMillis()
    runOne(q, None)
    val t1 = System.currentTimeMillis()
    val st = probe.stageRecs
    q -> QueryTrace((t1 - t0) / 1e3, probe.jobs.size, st.map(_.cpuNs).sum / 1e9,
      probe.driverGapS(t0, t1), st.map(_.shuffleWriteBytes).sum)
  }.toMap
}

/** One query's traced run: wall, Spark jobs, task CPU, driver time outside
  * jobs (seconds) and shuffle bytes written. */
final case class QueryTrace(wall: Double, jobs: Int, cpu: Double, driverGap: Double, shuffleBytes: Long)

/** Profiles the query_mix queries over one directory of tables: per query,
  * the rows it returns and the median of three warm traced runs. Prints one
  * `profile` line per query. perfbench/profile_tables.py runs it to compare
  * the seeded tables with the repository's test tables.
  * {{{
  * perfbench.TableProfile <tables dir> <work dir>
  * }}} */
object TableProfile {
  def main(argv: Array[String]): Unit = {
    val Array(tables, work) = argv
    val spark = Main.session(work)
    try {
      val qb = new QueryBench(spark, new Probe(spark), tables, 0L, new Result)
      qb.pass(); qb.pass()
      val runs = Seq.fill(3)(qb.traceEach())
      QueryBench.names.foreach { q =>
        val rows = SparkEntry.queries(q)(spark, tables).count()
        val rs = runs.map(_(q))
        def med(f: QueryTrace => Double) = Main.median(rs.map(f))
        println(f"profile $q rows=$rows jobs=${rs.head.jobs} wall_s=${med(_.wall)}%.3f " +
          f"cpu_s=${med(_.cpu)}%.3f driver_gap_s=${med(_.driverGap)}%.3f " +
          f"shuffle_bytes=${med(_.shuffleBytes.toDouble)}%.0f")
      }
    } finally spark.stop()
  }
}
