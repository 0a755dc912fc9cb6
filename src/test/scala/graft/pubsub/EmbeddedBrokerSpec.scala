package graft.pubsub

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Broker-semantics tests: leased pull + ack + deadline redelivery,
  * ordering-key FIFO, backlog metrics, chunk-publish idempotency. */
class EmbeddedBrokerSpec extends AnyFunSuite with Matchers {

  private var n = 0
  private def freshBroker(): (EmbeddedBroker.Broker, String, String) = {
    n += 1
    val b = EmbeddedBroker.get(s"test-broker-$n-${System.nanoTime()}")
    b.createTopic("t")
    b.createSubscription("s", "t")
    (b, "t", "s")
  }

  test("publish then pull delivers payload, attributes, ids") {
    val (b, t, s) = freshBroker()
    b.publish(t, "hello".getBytes, Map("k" -> "v"))
    val pulled = b.pull(s, 10)
    pulled should have size 1
    val (ackId, m) = pulled.head
    ackId should startWith("ack-")
    new String(m.data) shouldBe "hello"
    m.attributes shouldBe Map("k" -> "v")
    m.messageId.nonEmpty shouldBe true
  }

  test("leased messages are invisible until the deadline, then redeliver") {
    val (b, t, _) = freshBroker()
    b.createSubscription("fast", "t", ackDeadlineMs = 80)
    b.publish(t, "x".getBytes)
    b.pull("fast", 10) should have size 1
    b.pull("fast", 10) shouldBe empty // leased
    Thread.sleep(120)
    b.pull("fast", 10) should have size 1 // redelivered
  }

  test("acknowledge removes permanently") {
    val (b, t, s) = freshBroker()
    b.publish(t, "x".getBytes)
    val Seq((ackId, _)) = b.pull(s, 10)
    b.acknowledge(s, Seq(ackId))
    Thread.sleep(5)
    b.pull(s, 10) shouldBe empty
    b.backlog(s) shouldBe 0
  }

  test("backfilled subscription replays retained history; a plain one " +
    "only sees later publishes") {
    val (b, t, s) = freshBroker()
    (1 to 3).foreach(i => b.publish(t, s"m$i".getBytes))
    b.createSubscription("late-plain", t)
    b.createSubscription("late-backfill", t, backfill = true)
    b.publish(t, "m4".getBytes)
    b.pull(s, 10).map(p => new String(p._2.data)) shouldBe
      Seq("m1", "m2", "m3", "m4")
    b.pull("late-plain", 10).map(p => new String(p._2.data)) shouldBe
      Seq("m4")
    b.pull("late-backfill", 10).map(p => new String(p._2.data)) shouldBe
      Seq("m1", "m2", "m3", "m4")
  }

  test("backlog counts pending plus leased-unacked") {
    val (b, t, s) = freshBroker()
    (1 to 5).foreach(i => b.publish(t, s"m$i".getBytes))
    b.backlog(s) shouldBe 5
    val pulled = b.pull(s, 2)
    b.backlog(s) shouldBe 5 // still undelivered-or-unacked
    b.acknowledge(s, pulled.map(_._1))
    b.backlog(s) shouldBe 3
  }

  test("per-region backlog from the region attribute") {
    val (b, t, s) = freshBroker()
    b.publish(t, "a".getBytes, Map("region" -> "us-east1"))
    b.publish(t, "b".getBytes, Map("region" -> "us-east1"))
    b.publish(t, "c".getBytes, Map("region" -> "eu-west1"))
    b.publish(t, "d".getBytes)
    b.backlogByRegion(s) shouldBe
      Map("us-east1" -> 2, "eu-west1" -> 1, "global" -> 1)
  }

  test("ordering-key FIFO: a key's later message is withheld while an " +
    "earlier one is outstanding") {
    val (b, t, s) = freshBroker()
    b.publish(t, "k1-first".getBytes, orderingKey = "k1")
    b.publish(t, "k1-second".getBytes, orderingKey = "k1")
    b.publish(t, "free".getBytes)
    val first = b.pull(s, 10)
    // Within one pull the key's messages come in order.
    first.map(p => new String(p._2.data)) shouldBe
      Seq("k1-first", "k1-second", "free")
    val (b2, t2, s2) = freshBroker()
    b2.publish(t2, "k1-first".getBytes, orderingKey = "k1")
    val one = b2.pull(s2, 10)
    b2.publish(t2, "k1-second".getBytes, orderingKey = "k1")
    // k1-first is leased and unacked: k1-second must be withheld.
    b2.pull(s2, 10) shouldBe empty
    b2.acknowledge(s2, one.map(_._1))
    b2.pull(s2, 10).map(p => new String(p._2.data)) shouldBe Seq("k1-second")
  }

  test("publishOrdered is exactly-once even when a retry re-chunks the " +
    "row sequence at different boundaries") {
    val (b, t, s) = freshBroker()
    def rows(r: Range): Seq[(Array[Byte], Map[String, String], String)] =
      r.map(i => (s"m$i".getBytes, Map.empty[String, String], ""))
    // attempt 0: flushes [0,20) and [20,32), then dies
    b.publishOrdered(t, "q/0/0", 0, rows(0 until 20))
    b.publishOrdered(t, "q/0/0", 20, rows(20 until 32))
    // retry: same deterministic row sequence, but the 10ms delay flush
    // fired at different moments -> different chunk boundaries. The
    // chunk-INDEX dedup this replaces dropped the [0,12) re-publish as
    // "chunk 0 already seen" and then lost rows at the shifted
    // boundaries; ordinal dedup accepts exactly the unseen suffix.
    b.publishOrdered(t, "q/0/0", 0, rows(0 until 12))
    b.publishOrdered(t, "q/0/0", 12, rows(12 until 24))
    b.publishOrdered(t, "q/0/0", 24, rows(24 until 44))
    b.publishOrdered(t, "q/0/0", 44, rows(44 until 50))
    // every row delivered exactly once despite overlapping re-publishes
    val got = b.pull(s, 1000).map(p => new String(p._2.data)).sorted
    got shouldBe (0 until 50).map(i => s"m$i").sorted
    // an unrelated stream key has its own ordinal space
    b.publishOrdered(t, "q/0/1", 0, rows(0 until 3))
    b.pull(s, 1000) should have size 3
  }

  test("publishOrdered fails fast when a retry offers DIFFERENT content " +
    "at an already-claimed ordinal (non-deterministic upstream)") {
    val (b, t, s) = freshBroker()
    def rows(r: Range, tag: String = "m") =
      r.map(i => (s"$tag$i".getBytes,
        Map.empty[String, String], "")): Seq[(Array[Byte], Map[String, String], String)]
    b.publishOrdered(t, "q/1/0", 0, rows(0 until 10))
    // byte-identical retry: silently skipped, no duplicates, no error
    noException should be thrownBy
      b.publishOrdered(t, "q/1/0", 0, rows(0 until 10))
    // a retry whose row content CHANGED (shuffle order flipped upstream)
    // must not be silently dropped — that would lose the new rows
    val e = the[IllegalStateException] thrownBy
      b.publishOrdered(t, "q/1/0", 0, rows(0 until 10, tag = "CHANGED"))
    e.getMessage should include("not deterministic")
    // attribute / ordering-key changes count as content changes too
    val withAttrs = (0 until 10).map(i =>
      (s"m$i".getBytes, Map("k" -> "v"), "")): Seq[(Array[Byte], Map[String, String], String)]
    an[IllegalStateException] should be thrownBy
      b.publishOrdered(t, "q/1/0", 0, withAttrs)
    // the stream itself is still usable for genuinely new ordinals
    b.publishOrdered(t, "q/1/0", 10, rows(10 until 12))
    b.pull(s, 1000).map(p => new String(p._2.data)).sorted shouldBe
      (0 until 12).map(i => s"m$i").sorted
  }

  test("property: pull-ack loop drains any publish sequence exactly once " +
    "when every pull is acked (100 seeded cases)") {
    val rnd = new scala.util.Random(42)
    (1 to 100).foreach { _ =>
      val payloads =
        List.fill(1 + rnd.nextInt(50))(rnd.alphanumeric.take(8).mkString)
      val (b, t, s) = freshBroker()
      payloads.foreach(p => b.publish(t, p.getBytes))
      var seen = List.empty[String]
      var guard = 0
      while (b.backlog(s) > 0 && guard < 100) {
        val pulled = b.pull(s, 1 + rnd.nextInt(7))
        seen ++= pulled.map(p => new String(p._2.data))
        b.acknowledge(s, pulled.map(_._1))
        guard += 1
      }
      seen.sorted shouldBe payloads.sorted
    }
  }
}
