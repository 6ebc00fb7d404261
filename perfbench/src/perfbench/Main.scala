package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload per process, closed loop, one client.
  *
  *  1. `SetupReps` set-ups (`setup_s` is their median), the first in the
  *     cold JVM; an untimed (but checked) warm-up operation follows the
  *     first set-up and another the last, so the timed operations run on
  *     code the JIT has compiled;
  *  2. `MinOps` timed operations, more if `--seconds` have not passed
  *     (`run_s` is the median operation); after each one, outside the
  *     timed interval, its correctness check and a full GC that measures
  *     the memory the program still holds (`live_mb`, the most over the
  *     operations);
  *  3. with `--trace 1`, every second operation runs with the listeners
  *     attached; the others give the untraced times the overhead is
  *     measured against.
  * The last stdout line is the result JSON; exit code 1 when any check
  * failed. */
object Main {
  val SetupReps = 3
  /** Timed operations per run, at least, so `run_s` is a median of three. */
  val MinOps = 3

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
                        trace: Boolean = false, cores: Int = 4, data: String = "",
                        work: String = "", traceOut: Option[String] = None,
                        selftest: Boolean = false, record: Option[String] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, a.copy(cores = v.toInt))
    case "--data" :: v :: t => parse(t, a.copy(data = v))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--trace-out" :: v :: t => parse(t, a.copy(traceOut = Some(v)))
    case "--selftest" :: t => parse(t, a.copy(selftest = true))
    case "--record-queries" :: v :: t => parse(t, a.copy(record = Some(v)))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val spark = graft.core.Sessions.local(a.cores, "perfbench")
    val code =
      try {
        if (a.selftest) SelfTest.run(spark, a)
        else if (a.record.nonEmpty) Record.run(spark, a)
        else run(spark, a)
      } catch {
        case e: Throwable => e.printStackTrace(); 3
      } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  def expectedPath: String = "perfbench/expected_queries.tsv"

  def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case w @ ("migrate_copy" | "migrate_rerun" | "migrate_delta") =>
      new Migration(spark, a.data, a.work, a.seed, w)
    case "query_mix" =>
      new QueryMix(spark, a.data, a.work, a.seed, QueryMix.readExpected(expectedPath))
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (metadata calls, write calls) of the local file system so far. */
  def fsOps(): (Long, Long) = (FsCounters.metadata.get, FsCounters.writes.get)

  /** Heap and non-heap memory in use after a full collection, in MB. */
  def liveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** One timed operation as measured. */
  final case class OpRun(i: Int, traced: Boolean, seconds: Double, cpuSeconds: Double,
                         startMs: Long, endMs: Long, outcome: OpOutcome,
                         jobs: Seq[JobRec], planningMs: Seq[(Long, Double)],
                         fsMeta: Long, fsWrite: Long, liveMb: Double)

  def run(spark: SparkSession, a: Args): Int = {
    val w = workload(spark, a)
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    var warmErrors = Seq.empty[String]
    var warmupS = 0.0
    def warmUp(i: Int): Unit = warmupS += timed {
      w.prepare()
      warmErrors ++= w.op(-i)().errors
    }
    val setups = (1 to SetupReps).map { r =>
      val s = timed(w.setup(r))
      if (r == 1 || r == SetupReps) warmUp(r)
      s
    }
    // every timed operation starts from a collected heap, like the ones
    // after it (each is followed by the full GC of `liveMb`)
    System.gc()

    val sc = spark.sparkContext
    val jobsL = new JobListener
    val planL = new PlanningListener
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val runs = ArrayBuffer.empty[OpRun]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || runs.size < MinOps) {
      val traced = a.trace && i % 2 == 1
      w.prepare()
      BenchBus.drain(sc)
      if (traced) { sc.addSparkListener(jobsL); classic.listenerManager.register(planL) }
      val (m0, w0) = fsOps()
      val c0 = cpuNs()
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val check = w.op(i)
      val t1 = System.nanoTime()
      val c1 = cpuNs()
      val s1 = System.currentTimeMillis()
      val (m1, w1) = fsOps()
      val (jobs, planning) =
        if (!traced) (Nil, Nil)
        else {
          BenchBus.drain(sc)
          sc.removeSparkListener(jobsL)
          classic.listenerManager.unregister(planL)
          (jobsL.take(), planL.take())
        }
      val outcome = check()
      runs += OpRun(i, traced, (t1 - t0) / 1e9, (c1 - c0) / 1e9, s0, s1, outcome,
        jobs, planning, m1 - m0, w1 - w0, liveMb())
      i += 1
    }
    val extra = if (a.trace) Layers.kernelRates(spark, w) else Map.empty[String, Double]
    val report = Report(a, setups, warmupS, warmErrors, runs.toSeq, extra, peakRssMb())
    a.traceOut.filter(_ => a.trace).foreach(p => Report.writeSpans(p, a, runs.toSeq))
    (warmErrors ++ runs.flatMap(_.outcome.errors)).take(20).foreach(e => System.err.println(s"check failed: $e"))
    println(report.detailLine)
    println(report.resultLine)
    if (report.failed == 0) 0 else 1
  }
}

/** Dumps every query of the mix once (parquet per result, plus the oracle
  * SQL of those queries) and prints the lines of expected_queries.tsv. */
object Record {
  def run(spark: SparkSession, a: Main.Args): Int = {
    val out = a.record.get
    System.setProperty("graft.ivf.root", s"${a.work}/index/ivf")
    QueryMix.Mix.foreach { case (q, _) =>
      val df = graft.SparkEntry.queries(q)(spark, a.data)
      val rows = df.collect().toSeq
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      println(s"$q\t${rows.size}\t${Digest.ofRows(df.schema, rows)}")
    }
    val sql = QueryMix.Mix.map { case (q, _) =>
      Json.str(q) + ": " + Json.str(graft.SparkEntry.oracleSql(q))
    }.mkString("{", ",\n", "}")
    Files.writeString(new File(s"$out/oracle_sql.json").toPath, sql)
    0
  }
}
