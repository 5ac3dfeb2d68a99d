package pizzabench

import java.util.SplittableRandom

/** Seeded input generation. Every generated value is a pure function of
  * (seed, stream, index), so Spark tasks can generate rows in parallel
  * and the plain-Scala oracle regenerates exactly the same rows. */
object Gen {

  /** 2023-09-23 00:00:00 UTC, the day of the reference seed data. */
  val BaseMs = 1695427200000L
  val HourMs = 3600000L

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(splitmix64(seed ^ splitmix64(stream ^ splitmix64(i))))

  /** Zipf(s) over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  final case class Shape(pizzas: Int, tables: Int, clients: Int, assignments: Int)

  /** One generated order: 1-5 pizza ids, duplicates allowed. */
  final case class GOrder(id: Int, ta: Int, timeMs: Long, pizzas: Array[Int])
}

/** The generated pizzeria's dimensions and order stream for one seed.
  * Pizza popularity and the assignment an order is placed on are
  * Zipf-skewed; hot assignments are spread over the id space so they do
  * not all hash together. */
final class Pizzeria(val seed: Long, val shape: Gen.Shape) extends Serializable {
  import Gen._

  private val pizzaZipf = new Zipf(shape.pizzas, 1.1)
  private val assignZipf = new Zipf(shape.assignments, 0.8)

  def pizzaName(id: Int): String = f"pizza-$id%02d"
  def pizzaPrice(id: Int): Int = 5 + rng(seed, 1, id).nextInt(11)
  def tableName(id: Int): String = s"table-$id"
  def clientName(id: Int): String = s"client-$id"
  /** (client_id, table_id) of assignment `id`. */
  def assignment(id: Int): (Int, Int) = {
    val r = rng(seed, 2, id)
    (r.nextInt(shape.clients), r.nextInt(shape.tables))
  }

  def samplePizzas(r: SplittableRandom): Array[Int] =
    Array.fill(1 + r.nextInt(5))(pizzaZipf.sample(r))

  def sampleAssignment(r: SplittableRandom): Int =
    ((assignZipf.sample(r).toLong * 7919L) % shape.assignments).toInt

  /** Order `i` of an `hours`-long day starting at BaseMs: its time lies
    * in (BaseMs, BaseMs + hours h], so every order falls in exactly one
    * hourly window. */
  def order(i: Int, hours: Int): GOrder = {
    val r = rng(seed, 3, i)
    val t = BaseMs + 1 + r.nextLong(hours * HourMs)
    GOrder(i, sampleAssignment(r), t, samplePizzas(r))
  }
}
