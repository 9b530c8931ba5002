package perfbench

import graft.Tables

/** `iterative_sf0.1`: the catalog entries built on the iterative `ext/`
  * operators (graph loops, clustering and dedup fits, tokenizer
  * training, the stored PQ index), run on the shipped sf0.1 tables,
  * which do not depend on the seed. The launcher checks each result
  * against expected results DuckDB made once from the paired oracle
  * SQL (`make_expected.py`). */
final class Iterative(ctx: Ctx) extends Workload {
  private val dir = ctx.args.data
  private val out = s"${ctx.args.work}/out"

  val ops: Seq[String] = Iterative.Entries

  def setup(): Unit = {
    val s = ctx.spark
    // footer schemas are memoized per path by the program; read them
    // here so no operation pays the one-off inference job
    Tables.customer(s, dir); Tables.orders(s, dir)
    Tables.lineitem(s, dir); Tables.part(s, dir)
    Tables.supplier(s, dir); Tables.nation(s, dir)
    Tables.region(s, dir); Tables.documents(s, dir)
    Tables.embeddings(s, dir)
  }

  def attempt(op: String, round: Int): String =
    Catalog.evaluate(ctx, op, dir, s"$out/r$round/$op")
}

object Iterative {
  val Entries: Seq[String] = Seq(
    "d_bpe_train", "d_unigram_train", "s_ann_ivf_kmeans", "d_semdedup",
    "g_bfs")
}
