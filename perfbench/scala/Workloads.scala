package perfbench

import graft.config.ExtractQueryConfig
import graft.ext.{AnnIndex, Dedup}
import org.apache.spark.sql.Row
import graft.extract.{DailyCron, Extractor, LongTable, TzMode}
import graft.operators.ExtractOps
import graft.streaming.{IndexedEmbeddingGate, StreamingDedupGate, StreamingExtract}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** The two workloads. Each drives the program only through its public
  * functions, with the defaults a caller gets, and leaves its outputs in
  * the run's work directory for the output checks. */
object Workloads {

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  // ---------------------------------------------------------------- cron
  val CronCfg: ExtractQueryConfig = ExtractQueryConfig(
    filter = "r[\"event_type\"] =~ /^(click|purchase|signup|view)$/",
    columnKey = "event_type",
    sortBy = Seq("ts"))
  val CronTable: LongTable = LongTable(timeCol = "ts", valueCol = "value")

  /** One `DailyCron.runForDay` per call over the days in `days.txt`
    * (seeded order, cycled). Traced runs call its two public steps,
    * `Extractor.queryDataForDay` and `ExtractOps.writeDailyCsv`, in their
    * own spans, so build and sink time are split. */
  def cronExtract(run: Run): Unit = {
    import run._
    val days = lines(s"$in/days.txt").map(java.time.LocalDate.parse)
    val csvDir = s"$work/csv"
    def day(source: DataFrame, d: java.time.LocalDate, outDir: String): String =
      if (!tracer.on)
        DailyCron.runForDay(source, d, CronCfg, outDir, "cron", CronTable, TzMode.Fixed) match {
          case DailyCron.Outcome.Written(p) => p
          case other => throw new IllegalStateException(s"day $d: $other")
        }
      else {
        val df = tracer.span("cron:runForDay") {
          val df = tracer.span("extract:Extractor.queryDataForDay")(
            Extractor.queryDataForDay(source, d, CronCfg, CronTable, TzMode.Fixed))
            .getOrElse(throw new IllegalStateException(s"day $d below threshold"))
          tracer.span("sink:ExtractOps.writeDailyCsv")(ExtractOps.writeDailyCsv(df, outDir, "cron", d))
          df
        }
        // digest outside the spans: it is tracing cost, not program time
        tracer.annotate("extract:Extractor.queryDataForDay", Map("plan_digest" -> tracer.digest(df)))
        s"$outDir/cron_$d.csv"
      }

    // set-up runs the first WarmDays days once: the first calls of a
    // JVM run ~30% slower while the JIT compiles, and a timed loop that
    // started cold would put a varying number of them into the median
    val WarmDays = 5
    val source = read(s"$in/events.parquet")
    days.take(WarmDays).foreach(d => day(source, d, s"$work/warmup"))
    setupDone()

    val perCall = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val end = deadline
    var i = 0
    while (System.nanoTime() < end) {
      val d = days(i % days.size)
      val before = snapshot(Seq(csvDir))
      loop.time("cron.day")(day(source, d, csvDir))
      perCall += Map("day" -> d.toString, "written" -> written(before, snapshot(Seq(csvDir))))
      i += 1
    }
    measureDone()
    extra("per_call") = perCall.toSeq
  }

  // ---------------------------------------------------------- ingest
  /** Ingest ticks: per arriving batch, `StreamingDedupGate.gateAndIngest`
    * on its docs, `IndexedEmbeddingGate.gateAndIngest` on its vectors, the
    * vectors into the persisted IVF-PQ index (`AnnIndex.ivfPqIndexWrite`
    * on the first batch, `ivfPqIndexAppend` after), one
    * `AnnIndex.ivfPqTopKIndexed` query batch against it (default rerank
    * over the vectors arrived so far), and one AvailableNow
    * `StreamingExtract` lifecycle over its events; store compaction every
    * third batch. Every batch after the set-up ones is timed, whatever
    * `--seconds` says, so every run times the same work. */
  def ingestGate(run: Run): Unit = {
    import run._
    val nBatches = lines(s"$in/ingest_batches.txt").head.toInt
    // the threshold of the registry's streaming_indexed_gate_replay cell
    val EmbThreshold = 0.45
    val K = 10
    val Warm = 2

    final case class Dirs(root: String) {
      val sigs = s"$root/sigs"; val verdicts = s"$root/verdicts"
      val store = s"$root/store"; val embVerdicts = s"$root/emb_verdicts"
      val index = s"$root/index"; val vecIn = s"$root/vec_in"
      val streamIn = s"$root/stream_in"; val streamOut = s"$root/stream_out"
      val ckpt = s"$root/ckpt"
      def outputs: Seq[String] = Seq(sigs, verdicts, store, embVerdicts, index, streamOut)
    }
    lazy val eventSchema = spark.read.parquet(s"$in/events_b0.parquet").schema
    var watermark = ""

    def tick(d: Dirs, i: Int): Array[Row] = {
      val (probe, neighbors) = tracer.span("ingest:tick")(tickBody(d, i))
      // digest outside the spans: it is tracing cost, not program time
      tracer.annotate("ann:AnnIndex.ivfPqTopKIndexed", Map("plan_digest" -> tracer.digest(probe)))
      neighbors
    }
    def tickBody(d: Dirs, i: Int): (DataFrame, Array[Row]) = {
      val docs = read(s"$in/docs_b$i.parquet")
      val vecs = read(s"$in/vecs_b$i.parquet")
      tracer.span("streaming:StreamingDedupGate.gateAndIngest")(
        StreamingDedupGate.gateAndIngest(docs, "doc_id", "text", d.sigs, d.verdicts, batchId = i.toLong))
      tracer.span("streaming:IndexedEmbeddingGate.gateAndIngest")(
        IndexedEmbeddingGate.gateAndIngest(vecs, "vec_id", "embedding", d.store, d.embVerdicts,
          EmbThreshold, batchId = i.toLong))
      if (i == 0)
        tracer.span("ann:AnnIndex.ivfPqIndexWrite")(AnnIndex.ivfPqIndexWrite(vecs, "vec_id", "embedding", d.index))
      else
        tracer.span("ann:AnnIndex.ivfPqIndexAppend")(AnnIndex.ivfPqIndexAppend(spark, d.index, vecs, "vec_id", "embedding"))
      val queries = read(s"$in/queries_b$i.parquet")
      val arrived = read(d.vecIn)
      val (probe, neighbors) = tracer.span("ann:probe") {
        val df = tracer.span("ann:AnnIndex.ivfPqTopKIndexed")(
          AnnIndex.ivfPqTopKIndexed(spark, d.index, queries, "vec_id", "embedding", K, rerankFrom = Some(arrived)))
        (df, tracer.span("ann:collect")(df.collect()))
      }
      val q = tracer.span("streaming:StreamingExtract.startFileSink")(
        StreamingExtract.startFileSink(
          StreamingExtract.resampleLastStream(
            StreamingExtract.source(spark, d.streamIn, eventSchema), "ts", "event_type", "value"),
          "ts", d.streamOut, d.ckpt))
      tracer.span("streaming:awaitTermination")(q.awaitTermination())
      q.exception.foreach(e => throw e)
      tracer.annotate("streaming:StreamingExtract.startFileSink",
        Map("microbatches" -> q.recentProgress.length))
      q.recentProgress.lastOption.flatMap(p => Option(p.eventTime.get("watermark"))).foreach(watermark = _)
      // fold every batch but the live one (the compaction contract)
      if (i % 3 == 0 && i > 0) tracer.span("streaming:compact") {
        StreamingDedupGate.compactSignatures(spark, d.sigs, i - 1L)
        IndexedEmbeddingGate.compactStore(spark, d.store, i - 1L)
      }
      (probe, neighbors)
    }
    /** The batch's events arrive in the stream's source directory and
      * its vectors in the directory the probe's rerank reads. */
    def stage(d: Dirs, i: Int): Long = {
      def arrive(name: String, dir: String): Long = {
        val src = Paths.get(s"$in/$name")
        Files.createDirectories(Paths.get(dir))
        Files.copy(src, Paths.get(dir, name))
        Files.size(src)
      }
      arrive(s"events_b$i.parquet", d.streamIn) + arrive(s"vecs_b$i.parquet", d.vecIn)
    }
    def answers(i: Int, neighbors: Array[Row]): Map[String, Any] =
      Map("batch" -> i, "neighbors" -> neighbors.map(r => Seq(r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Number]("rank").longValue)).toSeq)

    // set-up: the process catches up on the first two batches, which
    // touches both the empty-history and the with-history path; the
    // closed loop then times the ticks of every batch after them
    val d = Dirs(s"$work/ingest")
    val perTick = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    for (b <- 0 until Warm) { stage(d, b); perTick += answers(b, tick(d, b)) }
    setupDone()

    for (i <- Warm until nBatches) {
      val staged = stage(d, i) + Files.size(Paths.get(s"$in/docs_b$i.parquet"))
      val before = snapshot(d.outputs)
      val neighbors = loop.time("ingest.tick")(tick(d, i)).getOrElse(Array.empty[Row])
      perTick += answers(i, neighbors) ++ Map("staged_bytes" -> staged,
        "written" -> written(before, snapshot(d.outputs)))
    }
    measureDone()
    extra("per_tick") = perTick.toSeq
    extra("watermark") = watermark
    // untimed: the final index answers the recall query set
    extra("recall_probe") = answers(nBatches, AnnIndex.ivfPqTopKIndexed(spark, d.index,
      spark.read.parquet(s"$in/recall_queries.parquet"), "vec_id", "embedding", K,
      rerankFrom = Some(spark.read.parquet(d.vecIn))).collect())("neighbors")

    // output check, untimed: every batch's verdicts, the first one
    // included, equal one batch Dedup call over the union of the
    // batches before it (Dedup.incrementalDupsFromSignatures for the doc
    // gate, Dedup.incrementalEmbeddingDups under the gate's default
    // shape for the embedding gate). The references run side by side.
    def norm(df: DataFrame, cols: Seq[String]): Set[String] =
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSet
    def union(prefix: String, b: Int): DataFrame = {
      val all = (0 to b).map(j => spark.read.parquet(s"$in/${prefix}_b$j.parquet"))
      if (b == 0) all.head.limit(0) else all.take(b).reduce(_ union _)
    }
    val docCols = Seq("doc_id", "exact_dup_id", "near_dup_id", "near_est", "is_new")
    val embCols = Seq("doc_id", "exact_dup_id", "near_dup_id", "near_cos", "is_new")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def mismatches(verdictDir: String, cols: Seq[String])(ref: Int => DataFrame): Future[Int] =
      Future.traverse((0 until nBatches).toList) { b => Future {
        val want = norm(ref(b), cols)
        val got = norm(spark.read.parquet(verdictDir).filter(col(StreamingDedupGate.BatchCol) === b), cols)
        (want diff got).size + (got diff want).size
      } }.map(_.sum)
    val docRef = mismatches(d.verdicts, docCols) { b =>
      Dedup.incrementalDupsFromSignatures(Dedup.signatureTable(union("docs", b), "doc_id", "text"),
        spark.read.parquet(s"$in/docs_b$b.parquet"), "doc_id", "text")
    }
    val embRef = mismatches(d.embVerdicts, embCols) { b =>
      Dedup.incrementalEmbeddingDups(union("vecs", b), spark.read.parquet(s"$in/vecs_b$b.parquet"),
        "vec_id", "embedding", EmbThreshold)
    }
    try {
      extra("verdict_mismatches") = Await.result(docRef, Duration.Inf)
      extra("emb_verdict_mismatches") = Await.result(embRef, Duration.Inf)
    } finally pool.shutdown()
    extra("ticks") = nBatches
  }
}
