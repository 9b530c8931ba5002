package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max}

import graft.{SparkEntry, Tables}

/** `star_10x`: the shipped sf0.1 star replicated ten times (about sf1),
  * with the set-based lifecycles and TPC-H-style joins of the catalog
  * run on it. Every replica shifts its keys by the source's own
  * max key + 1, so foreign keys stay within a replica and no key
  * repeats. The replica does not depend on the seed; it is generated
  * once per checkout into `args.star` (the launcher keys that directory
  * on the source files and this generator), so a run's set-up does not
  * repeat 10x of parquet writing that the program has no part in. */
final class Star(ctx: Ctx) extends Workload {
  import Star._
  private val spark = ctx.spark
  private val dir = ctx.args.star
  private val out = s"${ctx.args.work}/out"

  val ops: Seq[String] = Entries

  def setup(): Unit = {
    if (!Files.exists(Paths.get(s"$dir/_built"))) {
      val tmp = s"$dir.tmp"
      build(spark, ctx.args.data, tmp, Replicas)
      Files.createFile(Paths.get(s"$tmp/_built"))
      Files.move(Paths.get(tmp), Paths.get(dir),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // footer schemas are memoized per path by the program; read them
    // here so no operation pays the one-off inference job
    Tables.customer(spark, dir); Tables.orders(spark, dir)
    Tables.lineitem(spark, dir); Tables.part(spark, dir)
    Tables.supplier(spark, dir); Tables.nation(spark, dir)
    Tables.region(spark, dir)
  }

  def attempt(op: String, round: Int): String =
    Catalog.evaluate(ctx, op, dir, s"$out/r$round/$op")
}

object Star {
  val Replicas = 10

  /** In round order. The first timed operation pays the cold JIT, so it
    * is the longest, execution-bound entry, where that cost is the
    * smallest share; the two entries that fail today come last, so the
    * first timed operation is one that succeeds. */
  val Entries: Seq[String] = Seq(
    "q_approx_distinct", "q5_local_supplier", "p_cdc_apply",
    "q1_pricing_summary", "p_scd2_merge")

  /** Writes `n` replicas of the star at `src` to `dst`. */
  def build(spark: org.apache.spark.sql.SparkSession, src: String,
      dst: String, n: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def maxKey(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head().getLong(0) + 1
    def write(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    val cust = read("customer")
    val ord = read("orders")
    val li = read("lineitem")
    val custOff = maxKey(cust, "c_custkey")
    val ordOff = maxKey(ord, "o_orderkey")
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until n).map { i =>
        shifts.foldLeft(df) { case (d, (c, off)) =>
          d.withColumn(c, col(c) + lit(i * off)) }
      }.reduce(_ unionByName _)
    write("customer", replicate(cust, "c_custkey" -> custOff))
    write("orders", replicate(ord, "o_orderkey" -> ordOff,
      "o_custkey" -> custOff))
    write("lineitem", replicate(li, "l_orderkey" -> ordOff))
    for (t <- Seq("part", "supplier", "nation", "region"))
      write(t, read(t))
  }
}

/** Evaluating one catalog entry: the catalog call (eager jobs included)
  * and the action that writes every row of the result. */
object Catalog {
  def evaluate(ctx: Ctx, op: String, dir: String, out: String): String = {
    var buildSpan = 0L
    ctx.timed {
      val df = ctx.layer("queries.build_s") {
        buildSpan = ctx.ledger.currentSpan
        SparkEntry.queries(op)(ctx.spark, dir)
      }
      ctx.ledger.span("action") {
        df.write.mode("overwrite").parquet(out)
      }
    }
    ctx.note("ext.eager_jobs", ctx.ledger.jobsUnder(buildSpan).toDouble)
    out
  }
}
