package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Endpoints, RestClient}

object SmallInputs {
  /** A few hundred synthetic source rows: enough for every route. */
  val inputs: Inputs = Inputs(
    orders = (1L to 300L).map(k => Order(k, k % 97, 9000L + k % 700)),
    lineItems = (1L to 300L).flatMap(o => (1 to 4).map(l =>
      LineItem(o, o * 7 + l, o % 50, l, (1 + (o + l) % 50).toDouble, if (l % 3 == 0) "R" else "N"))),
    customers = (1L to 450L).map(c => (c, f"Customer#$c%09d", (c % 1000).toDouble - 500)),
    nations = (0 until 25).map(n => (n, s"NATION$n")),
    suppliers = (1L to 20L).map(s => (s, f"Supplier#$s%09d")))
}

class PayloadsSpec extends AnyFunSuite {
  private def bytes(seed: Long): Seq[Map[String, Seq[Byte]]] =
    Payloads.generate(SmallInputs.inputs, seed).take(3).map(_.bodies.map { case (k, v) =>
      k -> v.getBytes(UTF_8).toSeq
    }).toSeq

  test("the same seed gives byte-identical payloads; another seed changes them") {
    val a = bytes(7)
    assert(a == bytes(7))
    val b = bytes(8)
    assert(a.map(_.keySet) == b.map(_.keySet))
    // every body that carries seeded values differs; constants maps do not
    val seeded = Seq("/publicMatches", "/scenarios/itemTimings", "/heroes", "/heroStats", "/teams",
      "/proMatches", "/distributions", "/scenarios/laneRoles")
    a.zip(b).foreach { case (x, y) => seeded.foreach(r => assert(x(r) != y(r), r)) }
  }

  test("every full-load route has a body, and some matches lack team arrays") {
    val load = Payloads.generate(SmallInputs.inputs, 1).next()
    assert(load.bodies.keySet == Endpoints.fullLoad.map(_.path).toSet)
    val docs = load.bodies("/publicMatches").split("\\},\\{")
    assert(docs.length == 300)
    assert(docs.exists(!_.contains("radiant_team")) && docs.exists(_.contains("radiant_team")))
  }

  test("the fault schedule is recovered at every step") {
    Payloads.generate(SmallInputs.inputs, 5).take(3).foreach { load =>
      val faults = Payloads.faults(5, load.month)
      assert(faults.values.flatten.toSeq.sorted == Seq(429, 429, 429, 503, 503, 503, 503))
      val transport = new ScheduledTransport("http://x", load.bodies, faults)
      var pauses = 0
      val client = new RestClient(transport, Ingest.Policy, _ => pauses += 1)
      Endpoints.fullLoad.foreach { spec =>
        assert(client.fetch(spec.url("http://x"), spec.params) == Right(load.bodies(spec.path)), spec.name)
      }
      assert(pauses == faults.values.map(_.size).sum)
    }
  }

  test("analyst answers accumulate over the months") {
    val loads = Payloads.generate(SmallInputs.inputs, 3).take(2).toSeq
    assert(loads.map(_.answers.durations.map(_.nMatches).sum) == Seq(300L, 600L))
    assert(loads.map(_.answers.brackets.map(_.nMatches).sum) == Seq(300L, 600L))
    assert(loads(1).answers.items.map(_.games).sum > loads(0).answers.items.map(_.games).sum)
  }
}
