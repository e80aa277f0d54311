package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one workload run needs: parsed arguments, the session, the
  * closed loop and the tracer. */
final class Run(val args: Map[String, String]) {
  val in: String = args("in")
  val work: String = args("work")
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val cpus: Int = args("cpus").toInt
  val launchMs: Long = args("launch-ms").toLong

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  lazy val tracer = new Tracer(spark, traced)
  val loop = new Loop
  val extra = mutable.LinkedHashMap[String, Any]()
  var setupS: Double = Double.NaN
  var setupDoneNs: Long = 0L

  /** Close the set-up interval: process launch until the session is
    * ready and the workload's code path has run once. */
  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - launchMs) / 1e3
    setupDoneNs = System.nanoTime()
  }

  /** Close the measured part of the run, before any untimed output
    * check runs in the JVM: take the process's peak RSS, then the heap
    * the workload still holds once a full collection has run, then stop
    * tracing. */
  def measureDone(): Unit = {
    peakRss = Some(readPeakRssMb)
    System.gc()
    retainedHeap = Some(java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0)
    tracer.close()
  }
  private var peakRss: Option[Double] = None
  private var retainedHeap: Option[Double] = None
  def peakRssMb: Double = peakRss.getOrElse(readPeakRssMb)
  def retainedHeapMb: Double = retainedHeap.getOrElse(Double.NaN)

  def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong

  def read(path: String): DataFrame =
    tracer.span("sources:FileSources.parquet")(graft.sources.FileSources.parquet(spark, path))

  /** Bytes of every file under `dirs`, keyed by path, with mtime, for
    * attributing writes by output path. */
  def snapshot(dirs: Seq[String]): Map[String, (Long, Long)] =
    dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      val st = Files.walk(d)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList finally st.close()
    }.toMap

  /** Bytes and files in `after` that are new or rewritten since `before`. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Map[String, Long] = {
    val fresh = after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }
    Map("bytes" -> fresh.sum, "files" -> fresh.size.toLong)
  }

  private def readPeakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

object Main {
  def parse(a: Array[String]): Map[String, String] =
    a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(a: Array[String]): Unit = {
    val args = parse(a)
    val workload: Run => Unit = args("workload") match {
      case "cron_extract" => Workloads.cronExtract
      case "ingest_gate"  => Workloads.ingestGate
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val run = new Run(args)
    val code =
      try {
        workload(run)
        val out = Map(
          "workload" -> args("workload"),
          "setup_s" -> run.setupS,
          "setup_done_ns" -> run.setupDoneNs,
          "peak_rss_mb" -> run.peakRssMb,
          "retained_heap_mb" -> run.retainedHeapMb,
          "attempted" -> run.loop.attempted,
          "failed" -> run.loop.failed,
          "calls" -> run.loop.json,
          "extra" -> run.extra,
          "trace" -> run.tracer.json)
        Files.write(Paths.get(args("out")), Json.enc(out).getBytes("UTF-8"))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally run.spark.stop()
    System.exit(code)
  }
}

/** The failure self-check: a closed loop in which every third call
  * throws must count those calls as failed and keep them out of the
  * latency samples. Runs without Spark. */
object SelfCheck {
  def main(a: Array[String]): Unit = {
    val loop = new Loop
    for (i <- 1 to 9) loop.time("call") {
      Thread.sleep(2)
      if (i % 3 == 0) throw new IllegalStateException(s"planted failure $i")
      i
    }
    val samples = loop.samples("call")
    val ok = loop.attempted == 9 && loop.failed == 3 && samples.size == 6 &&
      samples.forall(s => s > 0 && !s.isNaN) &&
      loop.calls.filter(!_.ok).forall(c => c.seconds.isNaN && c.error.contains("planted failure"))
    println(Json.enc(Map("selfcheck_ok" -> ok, "attempted" -> loop.attempted,
      "failed" -> loop.failed, "samples" -> samples.size, "calls" -> loop.json)))
    System.exit(if (ok) 0 else 1)
  }
}
