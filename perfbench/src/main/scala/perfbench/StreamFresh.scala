package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import graft.pipeline.StationStatus
import graft.streaming.Streams

/** The seeded open-loop feed. File `k` is due `k * FileMs` after the
  * generator starts and holds events `k * perFile until (k+1) *
  * perFile`; event time runs `Speedup` times faster than wall time, so
  * 15-minute windows close and the 2-hour watermark moves within a
  * run. About 5% of events are re-sent, byte for byte, one to three
  * files later (a Kafka redelivery). With `late` set, every fourth
  * file also carries one report a day older than the stream, far
  * behind the watermark once the first batch has set it.
  */
final case class Feed(seed: Long, rate: Int, late: Boolean) {
  val FileMs = 100
  val Speedup = 1500
  val perFile: Int = rate * FileMs / 1000
  val reports: Reports = Reports(seed, stations = 2000)
  private val t0 = 1700000000L + Hash.below(Hash.of(seed, 0, 0), 86400)
  /** Seconds of event time between events: stations report every
    * 2000 * Speedup / rate seconds (750 s at 4000 events/s).
    */
  private def eventTime(e: Long): Long =
    t0 + e * Speedup / rate + Hash.below(Hash.of(seed, e, 1), 240)

  private def redelivered(e: Long): Int = {
    val h = Hash.of(seed, e, 5)
    if (Hash.below(h, 20) == 0) 1 + Hash.below(h >>> 8, 3).toInt else 0
  }

  /** Events of file `k`: (event, report). Late reports use negative ids. */
  def events(k: Int): Seq[(Long, Report)] = {
    val own = (k.toLong * perFile until (k + 1L) * perFile).map(e => e -> reports.report(e, eventTime(e)))
    val resent = (1 to 3).flatMap { lag =>
      if (k - lag < 0) Nil
      else ((k - lag).toLong * perFile until (k - lag + 1L) * perFile)
        .filter(redelivered(_) == lag).map(e => e -> reports.report(e, eventTime(e)))
    }
    val old = if (late && k % 4 == 0) {
      val e = -1L - k
      Seq(e -> reports.report(Hash.below(Hash.of(seed, k, 6), 2000), t0 - 86400 + k))
    } else Nil
    own ++ resent ++ old
  }

  def isLate(e: Long): Boolean = e < 0
  /** Event time of a planted late report, in ms. */
  def lateMs(r: Report): Long = r.last_reported * 1000

  /** One Kafka record per line, the station report as its JSON value
    * (booleans as the producer normalises them), the record timestamp
    * set to the time the file was due in event time.
    */
  def file(k: Int): String = {
    val dueIso = java.time.Instant.ofEpochSecond(t0 + k.toLong * FileMs * Speedup / 1000).toString
    val sb = new StringBuilder
    events(k).foreach { case (e, r) =>
      val v = s"""{"station_id":"${r.station_id}","num_bikes_available":${r.num_bikes_available},""" +
        s""""num_ebikes_available":${r.num_ebikes_available},"num_docks_available":${r.num_docks_available},""" +
        s""""is_installed":${r.is_installed == 1},"is_renting":${r.is_renting == 1},""" +
        s""""is_returning":${r.is_returning == 1},"last_reported":${r.last_reported}}"""
      sb ++= s"""{"key":"${r.station_id}","value":${Json.write(v)},"topic":"station_status",""" +
        s""""partition":0,"offset":$e,"timestamp":"$dueIso"}""" += '\n'
    }
    sb.toString
  }
}

object Feed {
  val kafkaSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType)))
}

/** Lands the feed's files on schedule, whatever the stream does. The
  * file bodies are written to a staging directory before the phase;
  * `pacer.py`, a process of its own, renames each into the watched
  * directory at its due time, so JVM pauses cannot hold the load back.
  */
final class Generator(val feed: Feed, staging: Path, dir: Path, seconds: Double, pacer: Path) {
  val files: Int = (seconds * 1000 / feed.FileMs).toInt
  val rows: Array[Int] = Array.tabulate(files) { k =>
    val body = feed.file(k)
    Files.writeString(staging.resolve(f"part-$k%06d.json"), body)
    body.count(_ == '\n')
  }
  var dueMs: Array[Long] = Array.empty
  var doneMs: Array[Long] = Array.empty
  def written: Int = doneMs.length
  def startMs: Long = dueMs.head

  /** Runs the pacer to the end of the phase. */
  def run(): Unit = {
    val result = staging.resolveSibling("pacer.json")
    val p = new ProcessBuilder("python3", pacer.toString, staging.toString, dir.toString,
      files.toString, feed.FileMs.toString, result.toString).inheritIO().start()
    try {
      if (p.waitFor() != 0) sys.error(s"pacer exited with ${p.exitValue}")
    } finally if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(result.toFile)
    def longs(f: String): Array[Long] = json.get(f).elements().asScala.map(_.asDouble.round).toArray
    dueMs = longs("due_ms")
    doneMs = longs("done_ms")
  }
}

/** `stream_fresh`: the reference's real-time path at a fixed event
  * rate. The measured phase is bronze (decode → parquet sink). A traced
  * run adds a second phase, gold (silver → watermark → gold → JDBC
  * upsert into an empty Derby database), whose upsert fails at HEAD;
  * it is kept out of the headline run so that no headline operation
  * fails. Latency runs from an event's due time to the commit of the
  * micro-batch that carried it.
  */
final class StreamFresh(a: Main.Args) extends Workload {
  private val Rate = 4000
  /** Events due in the first seconds of a phase are left out of the
    * percentiles: the first batches pay query start, and the per-batch
    * driver path is still being compiled for about ten batches.
    */
  private val WarmS = 3.0
  /** Latency limit: an event not committed this long after its due
    * time counts as missing it. A phase waits at most this long for
    * its last events.
    */
  private val LimitMs = 3000L
  /** How long a phase waits for its stopped query's tasks to end. */
  private val IdleWaitMs = 30000L
  /** Generator lateness past which a phase is flagged, not trusted. */
  private val LateBoundMs = 50L
  /** Each phase runs for the whole measured period; the gold phase,
    * traced runs only, follows the bronze phase.
    */
  private val phaseS = a.seconds.toDouble
  private val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val GoldTable = "station_availability_15m"

  def generate(spark: SparkSession): Unit = ()

  private def decoded(spark: SparkSession, in: Path): DataFrame =
    Streams.decodeKafkaJson(
      Streams.fileStream(spark, in.toString, Feed.kafkaSchema, format = "json"),
      StationStatus.schema)

  private def goldOf(bronze: DataFrame): DataFrame =
    StationStatus.gold(StationStatus.silver(bronze).withWatermark("event_ts", "2 hours"))

  /** The bronze query runs to completion over a few files, one file
    * per micro-batch: the per-batch driver path (listing, planning, the
    * offset and commit logs) needs many batches before it is compiled.
    * A traced run also runs the gold query over them once.
    */
  def warmup(spark: SparkSession): Unit = {
    val dir = a.work.resolve(s"stream/warm-${System.nanoTime()}")
    val in = Files.createDirectories(dir.resolve("in"))
    val feed = Feed(a.seed + 7, Rate, late = false)
    (0 until 32).foreach(k => Files.writeString(in.resolve(f"part-$k%06d.json"), feed.file(k)))
    val oneFileBatches = Streams.decodeKafkaJson(
      spark.readStream.schema(Feed.kafkaSchema).option("maxFilesPerTrigger", 1).json(in.toString),
      StationStatus.schema)
    Streams.parquetSink(oneFileBatches, dir.resolve("bronze").toString,
      dir.resolve("ck-bronze").toString).trigger(Trigger.AvailableNow()).start().awaitTermination()
    if (a.trace) Streams.foreachBatchSink(goldOf(decoded(spark, in)), dir.resolve("ck-gold").toString) {
      (b: DataFrame, _: Long) => b.count(); ()
    }.trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** What one phase measured. `commitMs(k)` is when file `k`'s batch
    * committed, or -1 when it never did.
    */
  private final case class Phase(name: String, gen: Generator, commitMs: Array[Long],
                                 batchOf: Array[Long], watermarkMs: Map[Long, Long],
                                 progress: Seq[StreamingQueryProgress], endMs: Long,
                                 failedBatch: Option[Seq[Int]], error: Option[String],
                                 aligned: Boolean, backlog: Seq[Double]) {
    val files: Int = gen.written
    def warm(k: Int): Boolean = gen.dueMs(k) - gen.startMs < WarmS * 1000
    def latencyMs(k: Int): Double =
      if (commitMs(k) >= 0) (commitMs(k) - gen.dueMs(k)).toDouble
      else math.max(LimitMs.toDouble, (endMs - gen.dueMs(k)).toDouble)
    /** Latencies of every measured event (one entry per event). */
    def latencies: Seq[Double] = (0 until files).filterNot(warm)
      .flatMap(k => Iterator.fill(gen.rows(k))(latencyMs(k)))
    /** Events due after the warm-up and committed within the latency
      * limit, per second of the measured period.
      */
    def goodput: Double =
      (0 until files).filterNot(warm).filter(k => commitMs(k) >= 0 && latencyMs(k) <= LimitMs)
        .map(gen.rows(_).toLong).sum / (gen.files * gen.feed.FileMs / 1000.0 - WarmS)
    def events: Long = (0 until files).map(gen.rows(_).toLong).sum
    def lost: Long = (0 until files).filter(commitMs(_) < 0).map(gen.rows(_).toLong).sum
    def lateMaxMs: Long = (0 until files).map(k => gen.doneMs(k) - gen.dueMs(k)).max
    /** Open-loop validity: the generator kept its schedule and the
      * backlog of due-but-unconsumed files did not keep growing.
      */
    def valid: Boolean = lateMaxMs <= LateBoundMs &&
      (backlog.length < 4 || backlog.last <= math.max(5.0, 2 * Stats.median(backlog)))
  }

  private def runPhase(ctx: Ctx, name: String, feed: Feed, seconds: Double,
                       start: (DataFrame, String) => StreamingQuery): Phase = {
    val spark = ctx.spark
    val dir = a.work.resolve(s"stream/$name")
    val in = Files.createDirectories(dir.resolve("in"))
    val gen = new Generator(feed, Files.createDirectories(dir.resolve("staging")), in, seconds,
      a.benchDir.resolve("pacer.py"))
    // keep every progress report: the latency map needs all batches
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val q = start(decoded(spark, in), dir.resolve("checkpoint").toString)
    gen.run()
    val total = gen.rows.sum.toLong
    // drain: until every row is in, the query is gone, or the limit
    val stopAt = System.currentTimeMillis() + LimitMs
    def consumed: Long = q.recentProgress.map(_.numInputRows).sum
    while (q.isActive && consumed < total && System.currentTimeMillis() < stopAt) Thread.sleep(20)
    val endMs = System.currentTimeMillis()
    val error = q.exception.map(e => Option(e.getCause).getOrElse(e).toString.take(300))
    q.stop()
    // a sink task the stop interrupted outside a wait runs on and may
    // still commit: let it end before the outputs are read
    val idleBy = System.currentTimeMillis() + IdleWaitMs
    def running: Int = spark.sparkContext.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum
    while (running > 0 && System.currentTimeMillis() < idleBy) Thread.sleep(20)
    if (running > 0) ctx.log(s"$name phase: $running tasks still running after ${IdleWaitMs / 1000} s")

    val progress = q.recentProgress.toSeq
    // batches read whole files, oldest first: batch b committed the
    // files whose rows its cumulative input count covers
    val prefix = gen.rows.take(gen.written).scanLeft(0L)(_ + _) // rows before file k
    val commitMs = Array.fill(gen.written)(-1L)
    val batchOf = Array.fill(gen.written)(-1L)
    var cum = 0L
    var done = 0 // files committed so far
    var aligned = true
    val backlog = mutable.ArrayBuffer.empty[Double]
    progress.foreach { p =>
      val begin = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = begin + p.durationMs.get("triggerExecution").longValue
      if (begin - gen.startMs >= WarmS * 1000)
        backlog += math.max(0, gen.dueMs.take(gen.written).count(_ <= begin) - done)
      cum += p.numInputRows
      while (done < gen.written && prefix(done + 1) <= cum) {
        commitMs(done) = end; batchOf(done) = p.batchId; done += 1
      }
      if (prefix(done) != cum) aligned = false
    }
    // a batch planned but never committed failed, or was still stuck
    // when the phase ended: its files may be partly in the sink
    val failedBatch = Some(failedFiles(dir.resolve("checkpoint"))
      .filter(k => k >= done && k < gen.written)).filter(_.nonEmpty)
    val watermarkMs = progress.map(p => p.batchId ->
      Option(p.eventTime.get("watermark")).map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L)).toMap
    ctx.log(f"$name phase: ${gen.written} files, ${progress.size} batches, " +
      s"${commitMs.count(_ < 0)} files never committed${error.map(e => s", query failed: $e").getOrElse("")}")
    Phase(name, gen, commitMs, batchOf, watermarkMs, progress, endMs, failedBatch, error,
      aligned, backlog.toSeq)
  }

  /** Files of the newest file-source log entry: the batch that was
    * planned last.
    */
  private def failedFiles(checkpoint: Path): Seq[Int] = {
    val log = checkpoint.resolve("sources/0")
    val entries = Files.list(log).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d+(\\.compact)?")).toSeq
    if (entries.isEmpty) Nil
    else {
      val newest = entries.map(_.takeWhile(_.isDigit).toLong).max
      val file = entries.find(_.takeWhile(_.isDigit).toLong == newest).get
      val part = "part-(\\d+)\\.json".r.unanchored
      Files.readAllLines(log.resolve(file)).asScala.toSeq
        .filter(_.contains(s"\"batchId\":$newest"))
        .collect { case part(k) => k.toInt }
    }
  }

  private val derbyUrl = s"jdbc:derby:${a.work.resolve("derby/gold")};create=true"

  def measure(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val progressListener = new ProgressListener
    if (a.trace) { tr.attach(); ctx.spark.streams.addListener(progressListener) }
    val bad = mutable.ArrayBuffer.empty[String]

    val bronzeFeed = Feed(a.seed, Rate, late = false)
    val t0 = tr.now
    val bronze = runPhase(ctx, "bronze", bronzeFeed, phaseS, (df, ck) =>
      Streams.parquetSink(df, a.work.resolve("stream/bronze/out").toString, ck).start())
    val bronzeRun = bronze.progress.headOption.map(_.runId.toString).getOrElse("none")
    val bronzeSpan = tr.external("streaming.bronze_phase", "bronze", t0, tr.now, bronzeRun)
    if (!bronze.aligned) bad += "bronze: a batch ended inside a file; the latency map is wrong"
    if (bronze.error.nonEmpty) bad += s"bronze query failed: ${bronze.error.get}"
    checkBronze(ctx.spark, bronze, bronzeFeed, bad)
    if (!bronze.valid) flag(ctx, bronze)
    val bl = bronze.latencies
    ctx.log(f"bronze p50 ${Stats.median(bl)}%.1f ms p99 ${Stats.quantile(bl, 0.99)}%.1f ms, " +
      s"${bronze.lost} of ${bronze.events} events never committed")

    var layers = Map.empty[String, Double]
    if (a.trace) {
      // gold phase, into an empty database
      val upserts = new ConcurrentLinkedQueue[(Long, Double, Boolean)]()
      val upsert = Streams.jdbcUpsertWriter(derbyUrl, GoldTable,
        Seq("station_id", "window_start"), "", "", DerbyDriver)
      val sink = (b: DataFrame, id: Long) => {
        val s0 = System.nanoTime()
        var ok = false
        try { upsert(b, id); ok = true }
        finally upserts.add((id, (System.nanoTime() - s0) / 1e6, ok))
      }
      val goldFeed = Feed(a.seed, Rate, late = true)
      val t1 = tr.now
      val gold = runPhase(ctx, "gold", goldFeed, phaseS, (df, ck) =>
        Streams.foreachBatchSink(goldOf(df), ck)(sink).start())
      val goldRun = gold.progress.headOption.map(_.runId.toString).getOrElse("none")
      val goldSpan = tr.external("streaming.gold_phase", "gold", t1, tr.now, goldRun)
      if (!gold.aligned) bad += "gold: a batch ended inside a file; the latency map is wrong"
      checkGold(gold, goldFeed, bad)
      if (!gold.valid) flag(ctx, gold)
      ctx.log(f"gold p50 ${Stats.median(gold.latencies)}%.1f ms, " +
        s"${gold.lost} of ${gold.events} events never committed")
      tr.detach()
      ctx.spark.streams.removeListener(progressListener)
      layers = streamLayers(tr, bronze, gold, progressListener, upserts.asScala.toSeq, bronzeRun, goldRun,
        bronzeSpan, goldSpan)
    }
    bad.foreach(b => ctx.log(s"WRONG: $b"))

    Outcome(bad.isEmpty, attempted = bronze.events, failed = bronze.lost,
      headline = Map(
        "rate_per_s" -> bronze.goodput,
        "latency_p50_ms" -> Stats.median(bl),
        "latency_tail_ms" -> Stats.quantile(bl, 0.99)),
      layers = layers)
  }

  private def flag(ctx: Ctx, p: Phase): Unit =
    ctx.log(s"FLAGGED: ${p.name} phase is not a valid open-loop run " +
      s"(generator up to ${p.lateMaxMs} ms late, backlog ${p.backlog.lastOption.getOrElse(0.0)} files)")

  /** The bronze lake holds every row of every committed file. */
  private def checkBronze(spark: SparkSession, p: Phase, feed: Feed,
                          bad: mutable.ArrayBuffer[String]): Unit = {
    val committed = (0 until p.files).filter(p.commitMs(_) >= 0)
    val expect = committed.flatMap(feed.events)
    val out = spark.read.parquet(a.work.resolve("stream/bronze/out").toString)
      .agg(count(lit(1)), sum(col("last_reported")), sum(col("num_bikes_available"))).head()
    val got = (out.getLong(0), out.getLong(1), out.getLong(2))
    val want = (expect.size.toLong, expect.map(_._2.last_reported).sum,
      expect.map(_._2.num_bikes_available.toLong).sum)
    if (got != want) bad += s"bronze lake (rows, sum last_reported, sum bikes) = $got, expected $want"
  }

  /** The Derby gold table against a plain-Scala fold of the events of
    * committed batches. A key the failed batch touched may also hold
    * that batch's values, since the upsert commits per partition.
    * A planted late report is beyond the watermark when its event time
    * is behind the watermark of the batch before the one that read
    * it (the watermark Spark drops late rows by when a query has
    * more than one stateful operator); those are left out of the fold.
    */
  private def checkGold(p: Phase, feed: Feed, bad: mutable.ArrayBuffer[String]): Unit = {
    def dropped(k: Int, r: Report): Boolean = p.batchOf(k) >= 0 &&
      p.watermarkMs.get(p.batchOf(k) - 1).exists(feed.lateMs(r) < _)
    def fold(files: Seq[Int]): GoldOracle = {
      val o = new GoldOracle
      val seen = mutable.HashSet.empty[Long]
      files.foreach(k => feed.events(k).foreach { case (e, r) =>
        if (!(feed.isLate(e) && dropped(k, r)) && seen.add(e)) o.add(r)
      })
      o
    }
    val committed = (0 until p.files).filter(p.commitMs(_) >= 0)
    val base = fold(committed)
    val withFailed = p.failedBatch.map(f => fold(committed ++ f))
    val rows = readGold()
    val byKey = rows.map(r => (r._1, r._2) -> r).toMap
    val twice = rows.groupBy(r => (r._1, r._2)).filter(_._2.size > 1)
    if (twice.nonEmpty) bad += s"gold table holds ${twice.size} keys more than once, e.g. ${twice.head._2}"
    val errs = mutable.ArrayBuffer.empty[String]
    def matches(o: GoldOracle, r: (String, Long, Double, Double, Double)): Boolean =
      o.value((r._1, r._2)).exists { case (pct, b, d) =>
        GoldOracle.close(pct, r._3) && GoldOracle.close(b, r._4) && GoldOracle.close(d, r._5) }
    rows.foreach { r =>
      if (!matches(base, r) && !withFailed.exists(matches(_, r)))
        errs += s"gold row $r matches no fold of the committed events"
    }
    base.keys.foreach { k => if (!byKey.contains(k)) errs += s"gold table lacks committed key $k" }
    bad ++= errs.take(5)
    if (errs.size > 5) bad += s"... ${errs.size} gold mismatches in all"
    val planted = committed.map(k => feed.events(k).count { case (e, r) => feed.isLate(e) && dropped(k, r) }).sum
    val droppedRows = p.progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    if (planted != droppedRows)
      bad += s"$planted reports planted beyond the watermark in committed batches, watermark dropped $droppedRows"
  }

  /** (station, window start s, pct or NaN, bikes, docks) from Derby;
    * empty when the table was never created.
    */
  private def readGold(): Seq[(String, Long, Double, Double, Double)] = {
    Class.forName(DerbyDriver)
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val exists = conn.getMetaData.getTables(null, null, GoldTable.toUpperCase, null).next()
      if (!exists) Nil
      else {
        val rs = conn.createStatement().executeQuery(
          "SELECT \"station_id\", \"window_start\", \"avg_pct_bikes_available\", \"avg_bikes\", \"avg_docks\" " +
            s"FROM $GoldTable")
        val out = mutable.ArrayBuffer.empty[(String, Long, Double, Double, Double)]
        while (rs.next()) {
          val pct = rs.getDouble(3)
          val pctOrNaN = if (rs.wasNull()) Double.NaN else pct
          out += ((rs.getString(1), rs.getTimestamp(2).getTime / 1000, pctOrNaN,
            rs.getDouble(4), rs.getDouble(5)))
        }
        out.toSeq
      }
    } finally conn.close()
  }

  private def streamLayers(tr: Tracer, bronze: Phase, gold: Phase, pl: ProgressListener,
                           upserts: Seq[(Long, Double, Boolean)],
                           bronzeRun: String, goldRun: String,
                           bronzeSpan: Long, goldSpan: Long): Map[String, Double] = {
    val all = pl.progress.toSeq
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val data = all.filter(_.numInputRows > 0)
    val goldOps = gold.progress.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val dedupOp = goldOps.find(_.operatorName.toLowerCase.contains("dedup"))
    val aggOp = goldOps.find(o => !o.operatorName.toLowerCase.contains("dedup"))
    def lat(p: Phase, q: Double): Double = { val l = p.latencies; if (l.isEmpty) 0.0 else Stats.quantile(l, q) }
    val engineAll = new Counters
    engineAll.add(tr.engine.counters(bronzeRun)); engineAll.add(tr.engine.counters(goldRun))
    val triggers = data.map(d(_, "triggerExecution"))
    // each micro-batch becomes a span under its phase
    Seq(bronze -> bronzeSpan, gold -> goldSpan).foreach { case (p, parent) =>
      p.progress.foreach { b =>
        val begin = tr.fromEpochMs(java.time.Instant.parse(b.timestamp).toEpochMilli)
        tr.external("streaming.batch", s"${p.name}-batch${b.batchId}", begin,
          begin + d(b, "triggerExecution"), b.runId.toString + "#batch", parent)
      }
    }
    val phasesMs = Seq(bronzeSpan, goldSpan).flatMap(id => tr.spans.find(_.id == id))
      .map(s => s.endMs - s.startMs).sum
    Layers.engineOf(engineAll, 1, phasesMs) ++ Map(
      "sources.input_rows" -> engineAll.inputRows.toDouble,
      "sources.input_bytes" -> engineAll.inputBytes.toDouble,
      "sources.scan_task_ms" -> engineAll.scanTaskMs.toDouble,
      "streaming.latest_offset_ms" -> med(data.map(d(_, "latestOffset"))),
      "streaming.trigger_ms_p50" -> med(triggers),
      "streaming.trigger_ms_p99" -> (if (triggers.isEmpty) 0.0 else Stats.quantile(triggers, 0.99)),
      "streaming.add_batch_ms" -> med(data.map(d(_, "addBatch"))),
      "streaming.wal_commit_ms" -> med(data.map(d(_, "walCommit"))),
      "streaming.planning_ms" -> med(data.map(d(_, "queryPlanning"))),
      "streaming.backlog_files" -> med(bronze.backlog ++ gold.backlog),
      "streaming.input_rows_per_batch" -> med(data.map(_.numInputRows.toDouble)),
      "streaming.dedup_state_rows" -> dedupOp.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.dedup_state_mem_bytes" -> dedupOp.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.agg_state_rows" -> aggOp.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.agg_state_mem_bytes" -> aggOp.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.late_dropped_rows" -> gold.progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble,
      "streaming.upsert_ms" -> med(upserts.filter(_._3).map(_._2)),
      "streaming.upsert_batches" -> upserts.size.toDouble,
      "streaming.upsert_failed_batches" -> upserts.count(!_._3).toDouble,
      "stream.fresh_bronze_p50_ms" -> lat(bronze, 0.5),
      "stream.fresh_bronze_p99_ms" -> lat(bronze, 0.99),
      "stream.fresh_gold_p50_ms" -> lat(gold, 0.5),
      "stream.fresh_gold_p99_ms" -> lat(gold, 0.99),
      "stream.gold_failed_share" -> gold.lost.toDouble / gold.events,
      "stream.generator_late_ms_max" -> math.max(bronze.lateMaxMs, gold.lateMaxMs).toDouble,
      "stream.valid_phases" -> Seq(bronze, gold).count(_.valid).toDouble,
      "trace.overhead_ms" -> (tr.engine.callbackNanos + pl.callbackNanos) / 1e6)
  }
}
