package graft.api

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one hamming near-dup path: [[Graft.hammingBandLayout]] (which
  * radii a signature width can band, and each band's (word, shift,
  * mask)) and [[Graft.hammingPairs]] (the banded self-join).
  *
  * The oracles are the per-op band formulas the four near-dup ops used
  * before they shared one implementation, kept here as reference code:
  *  - `ceilBands`: the 60-bit `ahashNearDupPairs` / `simhashNearDupPairs`
  *    split, radius+1 bands of ⌈60/(radius+1)⌉ bits at shift j·width,
  *    any radius below 60. Where radius+1 does not divide 60 it put a
  *    band at shift ≥ 60, which is 0 for every 60-bit signature and so
  *    made every pair a candidate; the one-word layout now splits evenly
  *    and matches it only where radius+1 divides 60;
  *  - `alignedBands`: the wide `simhashWideNearDupPairs` /
  *    `ahashWideNearDupPairs` split, radius 0 as an equality join, else
  *    bands of 60·words/(radius+1) bits that must divide 60.
  */
class HammingBandingSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Low60 = (1L << 60) - 1

  private def ceilBands(radius: Int): Option[Seq[(Int, Int, Long)]] =
    if (radius < 0 || radius >= 60) None
    else {
      val bands = radius + 1
      val width = (60 + bands - 1) / bands
      val mask = (1L << width) - 1
      Some((0 until bands).map(j => (0, width * j, mask)))
    }

  private def alignedBands(words: Int,
      radius: Int): Option[Seq[(Int, Int, Long)]] = {
    val bits = 60 * words
    val bands = radius + 1
    if (radius == 0) Some(Nil)
    else if (radius < 0 || radius >= bits ||
      !(bits % bands == 0 && 60 % (bits / bands) == 0)) None
    else {
      val width = bits / bands
      val mask = (1L << width) - 1
      Some((0 until bands).map { j =>
        (j * width / 60, j * width % 60, mask)
      })
    }
  }

  /** What the op that banded `words` words accepted, and its bands:
    * one word was the ceil split, two and four the aligned split. The
    * one-word ceil split ran radius 0 as a single 60-bit band, which
    * the shared join runs as the equivalent equality join. */
  private def oracle(words: Int, radius: Int) =
    if (words == 1) ceilBands(radius).map(b => if (radius == 0) Nil else b)
    else alignedBands(words, radius)

  test("the band-layout rule accepts exactly the radii each width's op " +
    "accepted, with the same (word, shift, mask) per band") {
    for (words <- Seq(1, 2, 4); radius <- 0 until 60 * words)
      withClue(s"words=$words radius=$radius: ") {
        if (words > 1 || 60 % (radius + 1) == 0)
          Graft.hammingBandLayout(words, radius) shouldBe
            oracle(words, radius)
        else Graft.hammingBandLayout(words, radius) should not be empty
      }
    // the one widened case: ahashWideNearDupPairs(words = 1) used the
    // aligned split, and now bands like the 60-bit op it hashes like
    val oldWide1 = (0 until 60).filter(alignedBands(1, _).isDefined)
    val now1 = (0 until 60).filter(Graft.hammingBandLayout(1, _).isDefined)
    oldWide1 shouldBe Seq(0, 1, 2, 3, 4, 5, 9, 11, 14, 19, 29, 59)
    now1 shouldBe (0 until 60)
    oldWide1.foreach(r => if (r > 0)
      Graft.hammingBandLayout(1, r) shouldBe alignedBands(1, r))
    Graft.hammingBandLayout(2, 120) shouldBe None
    Graft.hammingBandLayout(1, -1) shouldBe None
  }

  test("one word splits its 60 bits evenly at every radius: disjoint " +
    "bands covering bits 0-59, all below shift 60, widths within 1") {
    for (radius <- 1 until 60) withClue(s"radius=$radius: ") {
      val bands = Graft.hammingBandLayout(1, radius).get
      bands should have size (radius + 1)
      val spans = bands.map { case (word, shift, mask) =>
        word shouldBe 0
        shift should be < 60
        val width = java.lang.Long.bitCount(mask)
        mask shouldBe (1L << width) - 1
        shift until shift + width
      }
      spans.flatten.sorted shouldBe (0 until 60)
      val widths = spans.map(_.size)
      (widths.max - widths.min) should be <= 1
    }
  }

  test("an unsupported radius fails by op name and lists the supported " +
    "radii") {
    val s = spark
    import s.implicits._
    val sig = Seq((1L, 5L, 6L)).toDF("id", "w0", "w1")
    val e = the[IllegalArgumentException] thrownBy
      Graft.hammingPairs(sig, "id", Seq("w0", "w1"), 2, "someOp")
    e.getMessage should include("someOp")
    e.getMessage should include(
      "supported radii: 0, 1, 3, 5, 7, 9, 11, 19, 23, 29, 39, 59, 119)")
  }

  /** Seeded signatures with planted near-dups: ten random bases, each
    * copied four times with 0-4 random bit flips anywhere in the
    * signature, so pairs sit at every small distance, exact duplicates
    * included. */
  private def signatures(words: Int, seed: Int): Seq[(Long, Seq[Long])] = {
    val rnd = new scala.util.Random(seed)
    (0 until 10).flatMap { b =>
      val base = Seq.fill(words)(rnd.nextLong() & Low60)
      (0 until 4).map { c =>
        val flipped = base.toArray
        (0 until rnd.nextInt(5)).foreach { _ =>
          val bit = rnd.nextInt(60 * words)
          flipped(bit / 60) ^= 1L << (bit % 60)
        }
        ((b * 4 + c).toLong, flipped.toSeq)
      }
    }
  }

  test("hammingPairs equals a brute-force popcount filter on 60-, 120- " +
    "and 240-bit signatures at radius 0, 3 and the largest radius") {
    val s = spark
    import s.implicits._
    for (words <- Seq(1, 2, 4)) {
      val rows = signatures(words, seed = 7 + words)
      val wordCols = (0 until words).map(w => s"w$w")
      val sig = rows.toDF("id", "ws").select(
        $"id" +: wordCols.indices.map(w => $"ws"(w).as(wordCols(w))): _*)
      for (radius <- Seq(0, 3, 60 * words - 1)) withClue(
          s"words=$words radius=$radius: ") {
        val got = Graft.hammingPairs(sig, "id", wordCols, radius, "spec")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val want = for {
          (ia, a) <- rows; (ib, b) <- rows if ia < ib
          d = a.zip(b).map { case (x, y) =>
            java.lang.Long.bitCount(x ^ y) }.sum
          if d <= radius
        } yield (ia, ib, d.toLong)
        got.toSeq.sorted shouldBe want.sorted
        want should not be empty
      }
    }
  }

  test("ahashWideNearDupPairs(words = 1) bands like ahashNearDupPairs: " +
    "same rows at radius 6") {
    val s = spark
    import s.implicits._
    // ten random 600-byte bases (60 chunks of 10 bytes), four variants
    // each with 0-4 chunks forced to all-0 or all-255 bytes, which sets
    // that chunk's aHash bit: variants of one base sit 0-8 bits apart
    val rnd = new scala.util.Random(23)
    val rows = (0 until 10).flatMap { b =>
      val base = Array.fill[Byte](600)(rnd.nextInt(256).toByte)
      (0 until 4).map { c =>
        val p = base.clone()
        (0 until rnd.nextInt(5)).foreach { _ =>
          val chunk = rnd.nextInt(60)
          val v = if (rnd.nextBoolean()) 0 else 255
          (0 until 10).foreach(g => p(chunk * 10 + g) = v.toByte)
        }
        ((b * 4 + c).toLong, p)
      }
    }
    val df = rows.toDF("mid", "payload")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    val wide = pairs(Graft.ahashWideNearDupPairs(df, "mid", "payload",
      radius = 6, words = 1))
    val narrow = pairs(Graft.ahashNearDupPairs(df, "mid", "payload",
      radius = 6, words = 1))
    wide shouldBe narrow
    wide.map(_._3).distinct.size should be > 1
  }
}
