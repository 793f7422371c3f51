package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.GraftSession
import graft.streaming.{ManualClock, StreamLog, StreamLogRegistry}

/** The micro-batch checks, apart from Spark so that a test can feed
  * them a faulty run: every backlog row counted once, one trigger per
  * `batchSize` rows, and the per-key (count, sum) equal to the
  * aggregate computed from the generator. */
object MicroBatchCheck {
  def apply(inputRows: Seq[Long], backlog: Int, batchSize: Int,
      got: collection.Map[String, (Long, Long)], want: collection.Map[String, (Long, Long)]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val triggers = inputRows.count(_ > 0)
    val expectTriggers = (backlog + batchSize - 1) / batchSize
    if (inputRows.sum != backlog) errs += s"sum of numInputRows ${inputRows.sum} != backlog $backlog"
    if (triggers != expectTriggers) errs += s"$triggers data triggers, expected $expectTriggers"
    if (got != want) {
      val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
      errs += s"per-key (count, sum) differ from the generator's at ${bad.map(k => s"$k: ${got.get(k)} vs ${want.get(k)}").mkString(", ")}"
    }
    errs.toSeq
  }

  def expected(gen: Gen, backlog: Int): Map[String, (Long, Long)] =
    (0 until backlog).groupBy(gen.key).map { case (k, is) => k -> (is.length.toLong, is.map(gen.value).sum) }
}

object MicroBatch {
  /** Rounds of the replay in a traced ops-loop run: the cold round and
    * five more, of which rounds 1, 3 and 5 are traced. */
  val tracedRounds = 6
}

/** The micro-batch query: a Structured Streaming query over `StreamLogSource`
  * drains a pre-loaded backlog under `processAllAvailable`, admitting
  * `batchSize` rows per trigger, into a keyed running (count, sum)
  * aggregate kept in the RocksDB state store `GraftSession` configures.
  * Each round starts a fresh query on a fresh checkpoint and drains a
  * backlog of four 1000-row triggers. */
final class MicroBatch(seed: Long, workDir: String, backlog: Int = 4000, batchSize: Int = 1000) {
  private val gen = new Gen(seed)
  private val contents = Array.tabulate(backlog)(i => gen.fields(i).toMap[String, Any])
  private val want = MicroBatchCheck.expected(gen, backlog)
  private val cores = math.min(2, Runtime.getRuntime.availableProcessors)
  private var spark: SparkSession = _

  private val samples = new Workload.Samples
  private val errs = mutable.ArrayBuffer.empty[String]
  def errors: Seq[String] = errs.toSeq

  def boot(): Unit = {
    Files.createDirectories(Paths.get(workDir))
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(workDir, "warehouse").toAbsolutePath.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    spark = GraftSession.recommended(builder, cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  def round(r: Int, trace: Trace): Unit = {
    val ckpt = Paths.get(workDir, s"checkpoint-$r").toAbsolutePath
    deleteTree(ckpt)
    val log = new StreamLog(new ManualClock(1700000000000L))
    contents.foreach(log.add(_))
    val key = StreamLogRegistry.register(log)
    val got = mutable.HashMap.empty[String, (Long, Long)]
    val agg = spark.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", batchSize.toString)
      .load()
      .select(col("content").getItem("key").as("key"), col("content").getItem("val").cast("long").as("val"))
      .groupBy("key").agg(count(lit(1)).as("n"), sum("val").as("s"))
    val query = trace.span("stream.start") {
      agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(row => got(row.getString(0)) = (row.getLong(1), row.getLong(2)))
        }
        .start()
    }
    var failed = false
    try trace.span("stream.drain")(query.processAllAvailable())
    catch { case e: Exception => failed = true; errs += s"query failed: ${e.getMessage}" }
    val progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq.filter(_.numInputRows > 0)
    trace.span("stream.stop")(query.stop())
    StreamLogRegistry.unregister(key)
    deleteTree(ckpt)

    if (!failed) errs ++= MicroBatchCheck(progress.map(_.numInputRows), backlog, batchSize, got, want).take(10 - errs.length)
    def phase(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    if (trace.on) {
      for ((k, n) <- Seq("latestOffset" -> "source.latest_offset", "getBatch" -> "source.get_batch",
          "queryPlanning" -> "stream.planning", "addBatch" -> "stream.add_batch",
          "walCommit" -> "stream.wal_commit", "commitOffsets" -> "stream.commit_offsets"))
        samples.add(n, progress.map(phase(_, k)))
      samples.add("state.commit", progress.flatMap(_.stateOperators.headOption.map(_.commitTimeMs.toDouble)))
      samples.round("stream.batches", progress.length.toDouble)
      progress.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
        samples.round("state.rows_total", s.numRowsTotal.toDouble)
        samples.round("state.memory_mb", s.memoryUsedBytes / 1048576.0)
      }
    }
  }

  def layers(): Map[String, (Double, String)] = {
    val s = samples
    Map(
      "source.latest_offset_p50_ms" -> (s.q("source.latest_offset", 0.5, 1.0), "ms"),
      "source.get_batch_p50_ms" -> (s.q("source.get_batch", 0.5, 1.0), "ms"),
      "stream.planning_p50_ms" -> (s.q("stream.planning", 0.5, 1.0), "ms"),
      "stream.add_batch_p50_ms" -> (s.q("stream.add_batch", 0.5, 1.0), "ms"),
      "stream.wal_commit_p50_ms" -> (s.q("stream.wal_commit", 0.5, 1.0), "ms"),
      "stream.commit_offsets_p50_ms" -> (s.q("stream.commit_offsets", 0.5, 1.0), "ms"),
      "stream.batches" -> (s.med("stream.batches"), "count"),
      "state.commit_p50_ms" -> (s.q("state.commit", 0.5, 1.0), "ms"),
      "state.rows_total" -> (s.med("state.rows_total"), "count"),
      "state.memory_mb" -> (s.med("state.memory_mb"), "MB"))
  }

  def close(): Unit = if (spark != null) spark.stop()
}
