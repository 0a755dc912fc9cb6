package graft.pubsub

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** ScalaCheck property tests for the embedded broker (SURVEY §5: broker
  * semantics under arbitrary message mixes and pull interleavings —
  * delivery completeness, per-key FIFO, redelivery-until-ack, backlog
  * conservation, chunk idempotency).
  */
class BrokerPropertiesSpec extends AnyFunSuite with Matchers {

  private def check(prop: Prop, minTests: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  private var n = 0
  private def fresh(deadlineMs: Long = 10000): (EmbeddedBroker.Broker, String, String) = {
    n += 1
    val b = EmbeddedBroker.get(s"prop-broker-$n-${System.nanoTime()}")
    b.createTopic("t")
    b.createSubscription("s", "t", ackDeadlineMs = deadlineMs)
    (b, "t", "s")
  }

  private val genMsgs: Gen[List[(String, String)]] = Gen.listOf(
    for {
      payload <- Gen.alphaNumStr.map(_.take(12))
      key <- Gen.oneOf("", "", "k1", "k2", "k3") // mostly unkeyed
    } yield (payload, key))

  test("every published message is delivered exactly once under " +
    "arbitrary pull sizes with progressive acks, FIFO per ordering key") {
    check(Prop.forAll(genMsgs, Gen.choose(1, 7)) { (msgs, pullSize) =>
      val (b, t, s) = fresh()
      msgs.foreach { case (p, k) => b.publish(t, p.getBytes, Map.empty, k) }
      val delivered = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var empty = 0
      while (empty < 2) { // two consecutive empty pulls = drained
        val got = b.pull(s, pullSize)
        if (got.isEmpty) empty += 1
        else {
          empty = 0
          delivered ++= got.map(g =>
            (new String(g._2.data), g._2.orderingKey))
          b.acknowledge(s, got.map(_._1))
        }
      }
      val perKeyIn = msgs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      val perKeyOut = delivered.toList.groupBy(_._2)
        .view.mapValues(_.map(_._1)).toMap
      // exactly-once set + per-key publish order preserved
      delivered.size == msgs.size &&
        perKeyIn.keySet == perKeyOut.keySet &&
        perKeyIn.forall { case (k, v) =>
          if (k.isEmpty) perKeyOut(k).sorted == v.sorted
          else perKeyOut(k) == v
        }
    })
  }

  test("unacked messages are redelivered after the deadline; acked never") {
    check(Prop.forAll(Gen.choose(1, 12)) { count =>
      val (b, t, s) = fresh(deadlineMs = 40)
      (1 to count).foreach(i => b.publish(t, s"m$i".getBytes))
      val first = b.pull(s, count)
      // ack a random half
      val (acked, unacked) = first.splitAt(count / 2)
      b.acknowledge(s, acked.map(_._1))
      Thread.sleep(90)
      val second = b.pull(s, count)
      second.map(g => new String(g._2.data)).sorted ==
        unacked.map(g => new String(g._2.data)).sorted
    }, minTests = 15)
  }

  test("backlog = published - acked at every step") {
    check(Prop.forAll(Gen.choose(0, 20)) { count =>
      val (b, t, s) = fresh()
      (1 to count).foreach(i => b.publish(t, s"m$i".getBytes))
      val pulled = b.pull(s, count)
      var expected = count.toLong
      b.backlog(s) == expected && pulled.forall { case (aid, _) =>
        b.acknowledge(s, Seq(aid))
        expected -= 1
        b.backlog(s) == expected
      }
    })
  }

  test("replay cache round-trips arbitrary messages bit-exactly " +
    "(unicode, empty, large values, binary payloads)") {
    val genMsg: Gen[(String, EmbeddedBroker.Message)] = for {
      ackId <- Gen.identifier.map("ack-" + _.take(20))
      id <- Gen.identifier.map(_.take(10))
      data <- Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
      nAttrs <- Gen.choose(0, 3)
      attrs <- Gen.mapOfN(nAttrs, for {
        k <- Gen.oneOf("k1", "キー", "k3")
        v <- Gen.oneOf(Gen.alphaNumStr.map(_.take(50)),
          Gen.const("x" * 70000), // past writeUTF's 64KB limit
          Gen.const("знач\u0000ение"))
      } yield (k, v))
      key <- Gen.oneOf("", "order-1", "ключ")
      ts <- Gen.choose(0L, Long.MaxValue)
    } yield (ackId, EmbeddedBroker.Message(id, data, attrs, key, ts))

    check(Prop.forAll(Gen.listOf(genMsg)) { msgs =>
      val path = java.nio.file.Files
        .createTempDirectory("replay-prop").toString + "/part"
      val out = ReplayCache.write(path, msgs)
      val back = ReplayCache.read(path).get
      out.size == msgs.size && back.size == msgs.size &&
        back.zip(msgs).forall { case ((aid1, m1), (aid2, m2)) =>
          aid1 == aid2 && m1.messageId == m2.messageId &&
            java.util.Arrays.equals(m1.data, m2.data) &&
            m1.attributes == m2.attributes &&
            m1.orderingKey == m2.orderingKey &&
            m1.publishTimestampMicros == m2.publishTimestampMicros
        }
    }, minTests = 20)
  }

  test("property: ordered publish delivers a row sequence exactly once " +
    "under ANY sequence of re-chunked retry attempts") {
    val gen = for {
      n <- Gen.choose(1, 50)
      attempts <- Gen.choose(1, 4)
      // each attempt replays a prefix (or all) of the sequence, split at
      // random chunk boundaries — the delay-flush drift the sink's
      // ordinal dedup must absorb
      plans <- Gen.listOfN(attempts, for {
        upto <- Gen.choose(1, n)
        cuts <- Gen.listOf(Gen.choose(1, math.max(1, upto - 1)))
      } yield (upto, cuts.distinct.sorted))
    } yield (n, plans :+ (n, List(n / 2).filter(_ > 0))) // last attempt completes
    check(Prop.forAll(gen) { case (n, plans) =>
      val (b, t, s) = fresh()
      val rows = (0 until n).map(i =>
        (s"m$i".getBytes, Map.empty[String, String], ""))
      plans.foreach { case (upto, cuts) =>
        val bounds = (0 +: cuts.filter(_ < upto) :+ upto).distinct.sorted
        bounds.sliding(2).foreach { case Seq(a, c) =>
          b.publishOrdered(t, "q/7/3", a.toLong, rows.slice(a, c))
        case _ => ()
        }
      }
      val got = Iterator.continually(b.pull(s, n + 10))
        .takeWhile(_.nonEmpty).flatten.map(p => new String(p._2.data)).toVector
      got.sorted == (0 until n).map(i => s"m$i").sorted.toVector
    }, minTests = 30)
  }
}
