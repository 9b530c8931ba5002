package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one call of the harness needs to know; see `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double,
    traced: Boolean, data: String, star: String, work: String, out: String,
    cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--data"),
      need("--star"), need("--work"), need("--out"), need("--cores").toInt)
  }
}

/** One attempt of one operation, as the harness saw it. `output` is the
  * parquet directory the launcher checks (empty when the workload
  * checks its outputs itself). */
final case class Attempt(op: String, round: Int, secs: Double, ok: Boolean,
    error: String, output: String, cost: Counters, jitMs: Long,
    extra: Map[String, Double])

/** Shared by the harness and the workloads: the session, the ledger,
  * and the one timed region of the current attempt. */
final class Ctx(val spark: SparkSession, val ledger: Ledger,
    val args: Args) {
  private val jit = ManagementFactory.getCompilationMXBean
  private[perfbench] var secs = 0.0
  private[perfbench] var cost = Counters()
  private[perfbench] var jitMs = 0L
  private[perfbench] val extra = mutable.Map.empty[String, Double]

  /** The timed region of an attempt. Counter snapshots drain the
    * listener bus, so they sit outside the clock. */
  def timed[T](body: => T): T = {
    val before = ledger.snapshot()
    ledger.resetPeakExec()
    val j0 = jit.getTotalCompilationTime
    val t0 = System.nanoTime()
    val r = try body finally {
      secs += (System.nanoTime() - t0) / 1e9
      jitMs += jit.getTotalCompilationTime - j0
      cost = ledger.snapshot() - before
    }
    r
  }

  /** Adds `v` to a per-attempt figure the workload reports. */
  def note(k: String, v: Double): Unit =
    extra(k) = extra.getOrElse(k, 0.0) + v

  /** Times `body` into the per-attempt figure `k` and as a span. */
  def layer[T](k: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try ledger.span(k)(body)
    finally note(k, (System.nanoTime() - t0) / 1e9)
  }

  private[perfbench] def reset(): Unit = {
    secs = 0.0; cost = Counters(); jitMs = 0L; extra.clear()
  }
}

/** A workload: inputs made in `setup`, then rounds of the same
  * operations. An attempt returns the parquet directory of its result
  * (checked by the launcher with DuckDB), or "" after checking its own
  * result; it throws on a failed operation or a failed check. */
trait Workload {
  def ops: Seq[String]
  def setup(): Unit
  def attempt(op: String, round: Int): String
  def endRound(round: Int): Unit = ()
}

object Main {
  /** Writes the harness's JSON files: case classes, maps, sequences
    * and options through Jackson's Scala module. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new Ledger(spark, a.traced)
    val ctx = new Ctx(spark, ledger, a)
    val w: Workload = a.workload match {
      case "star_10x" => new Star(ctx)
      case "iterative_sf0.1" => new Iterative(ctx)
      case "etl_upsert" => new Etl(ctx)
      case other =>
        throw new IllegalArgumentException(s"unknown workload $other")
    }
    ledger.span("setup", "setup")(w.setup())
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val attempts = mutable.ArrayBuffer.empty[Attempt]
    ledger.resetHeapPeak()
    val pass0 = System.nanoTime()
    var round = 0
    while (round == 0 || (System.nanoTime() - pass0) / 1e9 < a.seconds) {
      ledger.span(s"round $round", s"round$round") {
        for (op <- w.ops) {
          ctx.reset()
          val (out, err) =
            try (ledger.span(op, s"$op#$round")(w.attempt(op, round)), "")
            catch { case e: Throwable =>
              ("", Option(e.getMessage).getOrElse(e.toString)
                .linesIterator.take(3).mkString(" | "))
            }
          attempts += Attempt(op, round, ctx.secs, err.isEmpty, err, out,
            ctx.cost, ctx.jitMs, ctx.extra.toMap)
        }
      }
      w.endRound(round)
      round += 1
    }
    val passS = (System.nanoTime() - pass0) / 1e9
    val heapMb = ledger.heapPeakBytes() / 1048576.0
    ledger.close()

    // read after the pass: some oracle statements carry literals the
    // entry derived when it ran
    val oracle = graft.SparkEntry.oracleSql
    json.writeValue(new File(a.out), Map(
      "workload" -> a.workload, "seed" -> a.seed, "setup_s" -> setupS,
      "rounds" -> round, "pass_s" -> passS, "peak_heap_mb" -> heapMb,
      "attempts" -> attempts.toSeq,
      "oracle" -> w.ops.flatMap(op => oracle.get(op).map(op -> _)).toMap))
    if (a.traced)
      json.writeValue(new File(a.out.stripSuffix(".json") + "-spans.json"),
        ledger.spans)
    spark.stop()
  }
}
