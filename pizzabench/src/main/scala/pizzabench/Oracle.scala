package pizzabench

import scala.util.hashing.MurmurHash3

/** Plain-Scala reference for the scenario queries: no Spark, just the
  * join/aggregate semantics of FIXTURES.md §2 over in-memory lookups. */
object Oracle {

  /** Dimension lookups as of some point in time. */
  trait Lookup {
    def pizza(id: Int): Option[(String, Int)]
    def assignment(id: Int): Option[(Int, Int)]
    def client(id: Int): Option[String]
    def table(id: Int): Option[String]
  }

  /** The JSON array `to_json(array_sort(collect_list(struct(pizza, price))))`
    * renders: elements sorted by (pizza, price). */
  def pizzasJson(items: Seq[(String, Int)]): String =
    items.sorted.map { case (n, p) => s"""{"pizza":"$n","price":$p}""" }
      .mkString("[", ",", "]")

  /** One order's enriched (client, table, pizzas JSON), inner-join
    * semantics: None when the assignment, client or table is missing;
    * pizza ids without a pizza row drop out. `anySemantics` collapses
    * duplicate pizza ids (the `= ANY(array)` view, §2b); otherwise every
    * occurrence counts (UNNEST, §2a). */
  def enrich(ta: Int, pizzas: Seq[Int], anySemantics: Boolean,
      dims: Lookup): Option[(String, String, String)] = {
    val ids = if (anySemantics) pizzas.distinct else pizzas
    val items = ids.flatMap(dims.pizza)
    if (items.isEmpty) None
    else for {
      (clientId, tableId) <- dims.assignment(ta)
      client <- dims.client(clientId)
      table <- dims.table(tableId)
    } yield (client, table, pizzasJson(items))
  }

  def rowKey(fields: Any*): String = fields.mkString("|")

  /** Order-independent multiset fingerprint of result rows. */
  final case class Fingerprint(count: Long, sum: Long, xor: Long) {
    def add(row: String): Fingerprint = {
      val h = (MurmurHash3.stringHash(row, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(row, 0x0dd).toLong & 0xffffffffL)
      Fingerprint(count + 1, sum + h, xor ^ h)
    }
  }
  object Fingerprint {
    val empty = Fingerprint(0, 0, 0)
    def of(rows: Iterable[String]): Fingerprint = rows.foldLeft(empty)(_ add _)
  }
}
