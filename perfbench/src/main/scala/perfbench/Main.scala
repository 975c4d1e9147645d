package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What a workload hands back after its measured period. `headline`
  * holds the end-to-end metrics (taken untraced), `layers` the
  * per-layer metrics of a traced run.
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         headline: Map[String, Double], layers: Map[String, Double])

/** One benchmark workload: inputs made from the seed, an untimed
  * warm-up that set-up time includes, and the measured period.
  */
trait Workload {
  /** Writes the seeded inputs; excluded from set-up time. */
  def generate(spark: SparkSession): Unit
  /** Untimed warm-up on a small input, counted as set-up. */
  def warmup(spark: SparkSession): Unit
  def measure(ctx: Ctx): Outcome
}

/** Everything a workload's measured period needs. `session(cores)`
  * replaces the live session (the single-core baseline uses it).
  */
final class Ctx(val args: Main.Args, var spark: SparkSession, val tracer: Tracer) {
  def work: Path = args.work
  def session(cores: Int): SparkSession = {
    spark.stop()
    spark = Main.newSession(args, cores)
    spark
  }
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, benchDir: Path, result: Path)

  /** Cores the benchmark's Spark session runs on, fixed so that runs
    * on different hosts plan the same number of partitions.
    */
  val Cores = 4

  def newSession(a: Args, cores: Int): SparkSession = {
    val s = graft.GraftSession.builder("perfbench", cores)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, benchDir, result) = argv
    val a = Args(workload, seed.toLong, seconds.toInt, trace == "1",
      Paths.get(work).toAbsolutePath, Paths.get(benchDir).toAbsolutePath,
      Paths.get(result).toAbsolutePath)
    Files.createDirectories(a.work)
    val wl: Workload = workload match {
      case "backfill" => new Backfill(a)
      case "stream_fresh" => new StreamFresh(a)
      case "curate" => new Curate(a)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up: the session start and the warm-up, once, in this fresh
    // JVM — the cold set-up a one-shot job pays
    val t0 = System.nanoTime()
    val spark = newSession(a, Cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val g0 = System.nanoTime()
    wl.generate(spark)
    System.err.println(f"[perfbench] inputs generated in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    val w0 = System.nanoTime()
    wl.warmup(spark)
    val setupS = sessionS + (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] set-up: $setupS%.3f s (session start $sessionS%.3f s)")

    var ctx: Ctx = null
    ctx = new Ctx(a, spark, new Tracer(a.trace, ctx.spark.sparkContext))
    val out = wl.measure(ctx)
    val liveHeapMb = Main.liveHeapMb
    ctx.spark.stop()
    if (a.trace) ctx.tracer.writeJsonl(a.work.resolve("spans.jsonl"))

    val metrics =
      if (a.trace) Layers.complete(out.layers + ("memory.live_heap_mb" -> liveHeapMb))
      else out.headline + ("setup_s" -> setupS)
    val json = Json.write(Map("correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> Json.finite(metrics)))
    Files.writeString(a.result, json)
  }

  /** Heap still in use after the most recent collection of each pool:
    * what the run retains (caches, state), not its garbage. In MiB.
    */
  def liveHeapMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
