package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.pipeline.StationStatus
import graft.quality.Checks

object Hash {
  /** splitmix64 finaliser: the benchmark's only source of randomness. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def of(seed: Long, a: Long, b: Long = 0L): Long = mix(mix(mix(seed) ^ a) ^ b)
  /** Uniform in [0, n). */
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)
}

/** One GBFS station report, as the producer writes it to the lake:
  * booleans arrive as 0/1 integers.
  */
final case class Report(station_id: String, num_bikes_available: Int,
                        num_ebikes_available: Int, num_docks_available: Int,
                        is_installed: Int, is_renting: Int, is_returning: Int,
                        last_reported: Long)

/** Seeded station reports: event `e` belongs to station
  * `e % stations`; about 1% of reports have zero capacity (0/(0+0)).
  * The caller picks `last_reported`, keeping (station_id,
  * last_reported) unique per distinct event.
  */
final case class Reports(seed: Long, stations: Int) {
  private val ids = Array.tabulate(stations)(s => f"station_$s%04d")
  def report(e: Long, lastReported: Long): Report = {
    val s = (e % stations).toInt
    val h = Hash.of(seed, e, 2)
    val cap = 10 + Hash.below(Hash.of(seed, s, 3), 40).toInt
    val zero = Hash.below(h, 100) == 0
    val bikes = if (zero) 0 else Hash.below(h >>> 8, cap + 1L).toInt
    val docks = if (zero) 0 else cap - bikes
    val ebikes = if (bikes == 0) 0 else Hash.below(h >>> 20, bikes + 1L).toInt
    Report(ids(s), bikes, ebikes, docks, 1,
      if (Hash.below(h >>> 32, 20) == 0) 0 else 1, 1, lastReported)
  }
}

/** Plain-Scala fold of distinct reports into the gold grain: per
  * (station, 15-minute window) the three averages the gold stage
  * computes. Independent of Spark: the benchmark's oracle.
  */
final class GoldOracle {
  private final class Acc { var pctSum = 0.0; var pctN = 0L; var bikes = 0L; var docks = 0L; var n = 0L }
  private val acc = mutable.HashMap.empty[(String, Long), Acc]

  def add(r: Report): Unit = {
    val a = acc.getOrElseUpdate((r.station_id, r.last_reported / 900 * 900), new Acc)
    val cap = r.num_bikes_available + r.num_docks_available
    if (cap > 0) { a.pctSum += r.num_bikes_available.toDouble / cap; a.pctN += 1 }
    a.bikes += r.num_bikes_available; a.docks += r.num_docks_available; a.n += 1
  }

  def size: Int = acc.size
  def keys: collection.Set[(String, Long)] = acc.keySet

  /** (avg_pct_bikes_available or NaN when no report had capacity,
    * avg_bikes, avg_docks) for a key.
    */
  def value(k: (String, Long)): Option[(Double, Double, Double)] = acc.get(k).map { a =>
    (if (a.pctN > 0) a.pctSum / a.pctN else Double.NaN, a.bikes.toDouble / a.n, a.docks.toDouble / a.n)
  }
}

object GoldOracle {
  def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Mismatches between gold rows and the oracle, at most `limit`. */
  def diff(rows: Seq[(String, Long, Double, Double, Double)], oracle: GoldOracle,
           limit: Int = 5): Seq[String] = {
    val seen = mutable.HashSet.empty[(String, Long)]
    val bad = mutable.ArrayBuffer.empty[String]
    rows.foreach { case (s, ws, pct, b, d) =>
      if (!seen.add((s, ws))) bad += s"duplicate gold row ($s, $ws)"
      oracle.value((s, ws)) match {
        case None => bad += s"gold row ($s, $ws) has no events"
        case Some((op, ob, od)) =>
          if (!(close(pct, op) && close(b, ob) && close(d, od)))
            bad += s"gold ($s, $ws) = ($pct, $b, $d), oracle ($op, $ob, $od)"
      }
    }
    if (seen.size != oracle.size) bad += s"${seen.size} gold rows, oracle has ${oracle.size}"
    bad.take(limit).toSeq
  }

  /** Gold rows as (station, window start s, pct or NaN, bikes, docks). */
  def rows(rs: Seq[Row]): Seq[(String, Long, Double, Double, Double)] = rs.map { r =>
    val pct = r.getAs[Any]("avg_pct_bikes_available")
    (r.getAs[String]("station_id"),
      r.getAs[java.sql.Timestamp]("window_start").getTime / 1000,
      if (pct == null) Double.NaN else pct.asInstanceOf[Double],
      r.getAs[Double]("avg_bikes"), r.getAs[Double]("avg_docks"))
  }
}

object Backfill {
  /** A station's k-th report comes 300 s after its previous one, plus a
    * jitter below 240 s.
    */
  def lastReported(g: Reports, t0: Long, e: Long): Long =
    t0 + e / g.stations * 300 + Hash.below(Hash.of(g.seed, e, 1), 240)
}

/** `backfill`: the reference's batch unit, closed loop, one caller.
  * Each rep runs bronze lake → silver parquet → gold parquet → the
  * reference's gold check suite.
  */
final class Backfill(a: Main.Args) extends Workload {
  private val distinct = 500000L
  private val duplicates = distinct / 20
  private val gen = Reports(a.seed, stations = 2000)
  private val t0 = 1700000000L + Hash.below(Hash.of(a.seed, 0, 0), 86400)
  private val bronze = a.work.resolve("backfill/bronze").toString
  private val half = a.work.resolve("backfill/bronze_half").toString
  private val suite = Checks.fromYaml(
    java.nio.file.Files.readString(a.benchDir.resolve("checks_gold.yml")))
  private var oracle: GoldOracle = _

  /** Writes `n` distinct reports plus `dups` exact re-sends, in an
    * order that is not `last_reported` order.
    */
  private def writeLake(spark: SparkSession, n: Long, dups: Long, path: String): Unit = {
    import spark.implicits._
    val (g, base) = (gen, t0)
    // a stride coprime with n walks every event once, out of time order
    val stride = Iterator.from(7919, 2).map(_.toLong).find(BigInt(_).gcd(BigInt(n)) == 1).get
    spark.range(0, n + dups, 1, 8).as[Long].map { r =>
      val e = if (r < n) (r * stride) % n else Hash.below(Hash.of(g.seed, r, 9), n)
      g.report(e, Backfill.lastReported(g, base, e))
    }.write.mode("overwrite").parquet(path)
  }

  def generate(spark: SparkSession): Unit = {
    writeLake(spark, distinct, duplicates, bronze)
    writeLake(spark, distinct / 2, duplicates / 2, half)
    oracle = new GoldOracle
    var e = 0L
    while (e < distinct) { oracle.add(gen.report(e, Backfill.lastReported(gen, t0, e))); e += 1 }
  }

  private def rep(spark: SparkSession, in: String, tr: Tracer, trace: String): Array[Row] = {
    val silver = a.work.resolve("backfill/silver").toString
    val gold = a.work.resolve("backfill/gold").toString
    tr.span("pipeline.silver", trace) {
      StationStatus.silver(spark.read.parquet(in)).write.mode("overwrite").parquet(silver)
    }
    tr.span("pipeline.gold", trace) {
      StationStatus.gold(spark.read.parquet(silver)).write.mode("overwrite").parquet(gold)
    }
    tr.span("quality.suite", trace) {
      Checks.runSuite(spark.read.parquet(gold), suite).collect()
    }
  }

  /** Three untimed reps on half the input: less leaves the timed reps
    * still paying JIT compilation.
    */
  def warmup(spark: SparkSession): Unit = {
    val off = new Tracer(false, spark.sparkContext)
    (1 to 3).foreach(i => rep(spark, half, off, s"warmup$i"))
  }

  def measure(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val off = new Tracer(false, ctx.spark.sparkContext)
    val bad = mutable.ArrayBuffer.empty[String]
    def checkSuite(res: Array[Row], what: String): Unit = {
      val failedChecks = res.filterNot(_.getBoolean(2)).map(_.getString(0))
      if (failedChecks.nonEmpty) bad += s"$what: checks failed: ${failedChecks.mkString(",")}"
      res.find(_.getString(0) == "row_count").foreach { r =>
        if (r.getDouble(1) != oracle.size) bad += s"$what: row_count ${r.getDouble(1)} != ${oracle.size}"
      }
    }
    // traced runs alternate traced and untraced reps, so the tracing
    // overhead is measured inside one run on the same inputs
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || plain.isEmpty || (a.trace && traced.isEmpty)) {
      val on = a.trace && i % 2 == 0
      if (on) tr.attach()
      val t0 = System.nanoTime()
      val res = rep(ctx.spark, bronze, if (on) tr else off, s"rep$i")
      val s = (System.nanoTime() - t0) / 1e9
      if (on) { tr.detach(); traced += s } else plain += s
      checkSuite(res, s"rep $i")
      ctx.log(f"backfill rep $i${if (on) " (traced)" else ""}: $s%.3f s")
      i += 1
    }
    val rows = distinct + duplicates

    var layers = Map.empty[String, Double]
    if (a.trace) {
      // single-threaded baseline of the same job
      val one = ctx.session(1)
      val t0 = System.nanoTime()
      checkSuite(rep(one, bronze, off, "single"), "single-core rep")
      val oneS = (System.nanoTime() - t0) / 1e9
      ctx.log(f"backfill single-core rep: $oneS%.3f s")
      layers = Layers.backfill(tr, traced.length, rows) ++ Map(
        "baseline.single_core_eps" -> rows / oneS,
        "trace.overhead_ms" -> (Stats.median(traced.toSeq) - Stats.median(plain.toSeq)) * 1000)
    }

    // outputs of the last rep against the oracle
    val spark = ctx.spark
    val silverRows = spark.read.parquet(a.work.resolve("backfill/silver").toString).count()
    if (silverRows != distinct) bad += s"silver has $silverRows rows, expected $distinct distinct reports"
    bad ++= GoldOracle.diff(GoldOracle.rows(
      spark.read.parquet(a.work.resolve("backfill/gold").toString).collect().toSeq), oracle)
    bad.foreach(b => ctx.log(s"WRONG: $b"))

    val reps = plain.toSeq
    Outcome(bad.isEmpty, attempted = reps.length + traced.length, failed = 0,
      headline = Map("rate_per_s" -> rows / Stats.median(reps),
        "latency_p50_ms" -> Stats.median(reps) * 1000,
        "latency_tail_ms" -> reps.max * 1000),
      layers = layers ++ Map("pipeline.dedup_keep_ratio" -> silverRows.toDouble / rows))
  }
}
