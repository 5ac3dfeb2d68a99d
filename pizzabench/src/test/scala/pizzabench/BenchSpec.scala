package pizzabench

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Pizzeria.{orders => seedOrders, pizzas => seedPizzas, clients => seedClients,
  tables => seedTables, assignments => seedAssignments}
import graft.queries.Scenarios

class BenchSpec extends AnyFunSuite {

  private val shape = Gen.Shape(pizzas = 40, tables = 200, clients = 5000, assignments = 20000)

  test("the same seed generates identical inputs; another seed does not") {
    def day(seed: Long) = {
      val p = new Pizzeria(seed, shape)
      (0 until 500).map { i =>
        val o = p.order(i, 24)
        (o.ta, o.timeMs, o.pizzas.toSeq, p.pizzaPrice(i % 40), p.assignment(i))
      }
    }
    assert(day(7) == day(7))
    assert(day(7) != day(8))
    val p = new Pizzeria(7, shape)
    (0 until 500).map(p.order(_, 24)).foreach { o =>
      assert(o.pizzas.length >= 1 && o.pizzas.length <= 5)
      assert(o.timeMs > Gen.BaseMs && o.timeMs <= Gen.BaseMs + 24 * Gen.HourMs)
      assert(o.ta >= 0 && o.ta < shape.assignments)
    }
  }

  test("the changelog is seeded and redelivers old versions the oracle ignores") {
    def log(seed: Long) = CdcPhase.generate(seed, 1000, 5000)
      .map(e => (e.op, e.key, e.tx, e.ta, e.time, e.pizzas.toSeq)).toSeq
    assert(log(7) == log(7))
    assert(log(7) != log(8))
    val evs = CdcPhase.generate(7, 1000, 5000)
    assert(evs.take(1000).forall(_.op == 'r'))
    assert(Set('c', 'u', 'd').subsetOf(evs.map(_.op).toSet))
    val newest = scala.collection.mutable.Map.empty[Int, Long]
    val stale = evs.count { e =>
      val old = newest.get(e.key).exists(_ > e.tx)
      newest(e.key) = math.max(e.tx, newest.getOrElse(e.key, 0L))
      old
    }
    assert(stale > 0)

    import CdcPhase.{Ev, SinkOracle}
    val o = new SinkOracle
    val v2 = Ev('u', 1, 2, 10, 100, Array(1))
    o.apply(Ev('r', 1, 1, 10, 100, Array(3)))
    o.apply(v2)
    o.apply(Ev('r', 1, 1, 10, 100, Array(3)))
    assert(o.image(1).contains(v2) && o.count == 1 && o.sum == CdcPhase.rowSum(v2))
    o.apply(Ev('d', 1, 3, 10, 100, Array(1)))
    assert(o.count == 0 && o.sum == 0)
  }

  test("percentile refuses unless at least 10 samples lie beyond it") {
    def xs(n: Int) = Array.tabulate(n)(_.toDouble)
    assert(Stats.percentile(xs(19), 0.5).isEmpty)
    assert(Stats.percentile(xs(20), 0.5).contains(9.0))
    assert(Stats.percentile(xs(99), 0.9).isEmpty)
    assert(Stats.percentile(xs(100), 0.9).contains(89.0))
    assert(Stats.percentile(xs(999), 0.99).isEmpty)
    assert(Stats.percentile(xs(1000), 0.99).contains(989.0))
    assert(Stats.percentile(Array.empty, 0.5).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0)) == 2.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("span self time subtracts the union of children clipped to the parent") {
    val parent = Span(1, -1, 0, "job", 0, 100)
    val kids = Seq(Span(2, 1, 0, "a", 10, 30), Span(3, 1, 0, "b", 20, 50),
      Span(4, 1, 0, "c", 90, 120))
    assert(Spans.selfNs(parent, kids) == 50)
    assert(Spans.selfNs(parent, Nil) == 100)
    val totals = Spans.totals(parent +: kids).map(t => t.name -> (t.count, t.totalNs, t.selfNs)).toMap
    assert(totals("job") == ((1, 100L, 50L)))
    assert(totals("c") == ((1, 30L, 30L)))
  }

  private object seedDims extends Oracle.Lookup {
    def pizza(id: Int) = seedPizzas.find(_.id == id).map(p => (p.name, p.price))
    def assignment(id: Int) = seedAssignments.find(_.id == id).map(a => (a.client_id, a.table_id))
    def client(id: Int) = seedClients.find(_.id == id).map(_.name)
    def table(id: Int) = seedTables.find(_.id == id).map(_.name)
  }

  private def oracle(any: Boolean): Map[Int, (String, String, String)] =
    seedOrders.flatMap(o => Oracle.enrich(o.table_assignment_id, o.pizzas, any, seedDims)
      .map(o.id -> _)).toMap

  private def js(items: (String, Int)*) = Oracle.pizzasJson(items)
  private val ms = ("Master Splinter", 8)
  private val sh = ("Shredder", 7)
  private val kr = ("Krang", 5)
  private val bb = ("Bebop and Rocksteady", 6)

  test("oracle reproduces the FIXTURES.md 2a (UNNEST) and 2b (= ANY) goldens") {
    assert(oracle(any = false) == Map(
      1 -> ("Medonna", "Michelangelo", js(ms, kr, sh)),
      2 -> ("Wall Smith", "Michelangelo", js(ms, ms, ms, ms)),
      3 -> ("Duvid Beckham", "Leonardo", js(sh, kr, bb, bb, ms, ms)),
      4 -> ("Duvid Beckham", "Leonardo", js(ms, ms)),
      5 -> ("Duvid Beckham", "Leonardo", js(kr))))
    assert(oracle(any = true) == Map(
      1 -> ("Medonna", "Michelangelo", js(ms, sh, kr)),
      2 -> ("Wall Smith", "Michelangelo", js(ms)),
      3 -> ("Duvid Beckham", "Leonardo", js(ms, sh, kr, bb)),
      4 -> ("Duvid Beckham", "Leonardo", js(ms)),
      5 -> ("Duvid Beckham", "Leonardo", js(kr))))
  }

  test("q01/q02 over Pizzeria.seed agree with the oracle hour by hour") {
    val spark = SparkSession.builder().master("local[2]").appName("pizzabench-test")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val t = graft.model.Pizzeria.seed(spark)
      for ((any, q) <- Seq(false -> Scenarios.q01BasicJoin _, true -> Scenarios.q02ViewFilter _)) {
        val want = oracle(any)
        val got = Seq("2023-09-23 21:00:00", "2023-09-23 22:00:00").flatMap { eval =>
          q(t, lit(Timestamp.valueOf(eval))).collect().map(r => r.getAs[Int]("order_id") ->
            ((r.getAs[String]("client_name"), r.getAs[String]("table_name"),
              r.getAs[String]("pizzas"))))
        }
        assert(got.map(_._1).sorted == want.keys.toSeq.sorted)
        assert(got.toMap == want)
      }
    } finally spark.stop()
  }
}
