package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StructField, StructType}

/** Single-pass PCM16LE window-energy over a BINARY payload: returns
  * ARRAY<STRUCT<channel BIGINT, win_idx BIGINT, energy BIGINT>> with one
  * element per COMPLETE window of `windowSamples` samples per channel
  * (samples interleave round-robin across `channels`; mono is
  * channels=1), ordered (channel, win_idx).
  *
  * The relational formulation (hex-encode the payload — 2× its size as a
  * string — then explode one row PER SAMPLE and hash-aggregate
  * per (doc, channel, window)) shuffles sample-count rows and builds a
  * row per 2 input bytes. This expression reads the little-endian
  * samples directly off the byte array in one pass and emits one struct
  * per WINDOW: windowSamples× fewer rows, no hex blow-up, and the
  * aggregation disappears entirely — the caller just explodes the
  * per-row array (partition-local), so the whole operator is map-only.
  */
case class Pcm16WindowEnergy(child: Expression, windowSamples: Int,
    channels: Int) extends UnaryExpression {
  require(windowSamples > 0 && channels > 0,
    s"pcm16_window_energy: need positive windowSamples/channels, " +
      s"got ($windowSamples, $channels)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"pcm16_window_energy requires BINARY input, got $t")
    }
  override def dataType: DataType =
    ArrayType(Pcm16WindowEnergy.ElementSchema, containsNull = false)
  override def prettyName: String = "pcm16_window_energy"

  override protected def nullSafeEval(input: Any): Any =
    Pcm16WindowEnergy.compute(input.asInstanceOf[Array[Byte]],
      windowSamples, channels)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Pcm16WindowEnergy.compute($c, $windowSamples, " +
        s"$channels)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object Pcm16WindowEnergy {
  val ElementSchema: StructType = StructType(Seq(
    StructField("channel", LongType, nullable = false),
    StructField("win_idx", LongType, nullable = false),
    StructField("energy", LongType, nullable = false)))

  def compute(bytes: Array[Byte], windowSamples: Int,
      channels: Int): ArrayData = {
    val ns = bytes.length / 2 // trailing odd byte ignored, as the hex
                              // formulation's fixed-width slicing did
    // complete windows per channel; channel c holds the samples with
    // s % channels == c, i.e. ceil((ns - c) / channels) of them
    val winsPerChannel = new Array[Int](channels)
    var c = 0
    var total = 0
    while (c < channels) {
      val inChannel = if (ns > c) (ns - c + channels - 1) / channels else 0
      winsPerChannel(c) = inChannel / windowSamples
      total += winsPerChannel(c)
      c += 1
    }
    if (total == 0) return new GenericArrayData(Array.empty[Any])
    // offsets of each channel's window block in the flat accumulator
    val offset = new Array[Int](channels)
    c = 1
    while (c < channels) {
      offset(c) = offset(c - 1) + winsPerChannel(c - 1); c += 1
    }
    val energy = new Array[Long](total)
    var s = 0
    while (s < ns) {
      val ch = s % channels
      val w = (s / channels) / windowSamples
      if (w < winsPerChannel(ch)) {
        val raw = (bytes(2 * s) & 0xff) | ((bytes(2 * s + 1) & 0xff) << 8)
        val amp = if (raw >= 32768) 65536 - raw else raw
        energy(offset(ch) + w) += amp
      }
      s += 1
    }
    val out = new Array[Any](total)
    c = 0
    while (c < channels) {
      var w = 0
      while (w < winsPerChannel(c)) {
        out(offset(c) + w) = new GenericInternalRow(
          Array[Any](c.toLong, w.toLong, energy(offset(c) + w)))
        w += 1
      }
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** 60-bit average-hash (aHash) of a BINARY payload: the payload splits
  * into 60 contiguous chunks (byte g -> chunk g*60/nb), and bit i is set
  * when chunk i's mean byte value exceeds the payload's global mean —
  * the classic perceptual-hash construction, applied to raw bytes so it
  * needs no codec and runs ahead of any decode. 60 bits (not 64) keep
  * the value positive in a signed BIGINT on every engine, and split
  * evenly into 4 x 15-bit chunks for exact pigeonhole banding at
  * hamming radius 3 (the d03 SimHash pattern).
  *
  * Mean comparisons run as exact integer cross-products
  * (chunkSum * nb > totalSum * chunkLen) — no float rounding to
  * diverge between engines; exact while chunkSum * nb fits a long,
  * i.e. payloads up to ~1 GB. One pass over [[AHashWide.hash]]'s
  * loop at one word, codegen'd.
  */
case class AHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"ahash60 requires BINARY input, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "ahash60"

  override protected def nullSafeEval(input: Any): Any =
    AHash60.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AHash60.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object AHash60 {
  val Bits = 60

  def compute(bytes: Array[Byte]): Long = AHashWide.hash(bytes, 1)(0)
}

/** Wide average-hash: [[AHash60]] generalized to `words` x 60 bits
  * (chunk c of 60*words covers bytes [c*nb/Bits, (c+1)*nb/Bits); bit c
  * is set when the chunk's mean byte exceeds the payload's global
  * mean), packed 60 bits per BIGINT word so every word stays positive
  * in a signed 64 on any engine. The point of the extra bits is
  * OCCUPANCY, not fidelity: pigeonhole banding at hamming radius r
  * splits Bits into r+1 exact-match bands, and band width — the log2
  * of the number of buckets random hashes spread over — scales with
  * Bits. 60 bits / radius 3 gives 15-bit bands (2^15 buckets, the
  * n^2/2^15 candidate class SCALE.md documents for m11); 120 bits /
  * radius 3 gives 30-bit bands (2^30 buckets), which pushes the random
  * collision term past any realistic corpus. Same exact integer
  * cross-product comparison as AHash60 (exact while chunkSum*nb fits a
  * long, i.e. payloads to ~1 GB), one pass, codegen'd. */
case class AHashWide(child: Expression, words: Int)
    extends UnaryExpression {
  require(words >= 1 && words <= 16, s"ahash_wide: words=$words")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"ahash_wide requires BINARY input, got $t")
    }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ahash_wide"

  override protected def nullSafeEval(input: Any): Any =
    AHashWide.compute(input.asInstanceOf[Array[Byte]], words)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.AHashWide.compute($c, $words)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object AHashWide {
  val WordBits = 60

  def compute(bytes: Array[Byte], words: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(hash(bytes, words))

  /** The one chunk-mean loop behind both aHash expressions: `words`
    * 60-bit words, bit c of the whole signature in word c / 60. */
  def hash(bytes: Array[Byte], words: Int): Array[Long] = {
    val bits = WordBits * words
    val n = bytes.length
    val out = new Array[Long](words)
    if (n == 0) return out
    val chunkSum = new Array[Long](bits)
    val chunkLen = new Array[Int](bits)
    var g = 0
    var total = 0L
    while (g < n) {
      val v = (bytes(g) & 0xff).toLong
      val c = (g.toLong * bits / n).toInt
      chunkSum(c) += v
      chunkLen(c) += 1
      total += v
      g += 1
    }
    var i = 0
    while (i < bits) {
      if (chunkLen(i) > 0 && chunkSum(i) * n > total * chunkLen(i)) {
        out(i / WordBits) |= 1L << (i % WordBits)
      }
      i += 1
    }
    out
  }
}

/** Per-frame mean byte value of a BINARY payload: one double per
  * COMPLETE `frameBytes`-byte frame, `sum(unsigned bytes) / frameBytes`
  * — the frame statistic behind scene-cut detection (m10). Integer sums
  * over a dyadic divisor, so every mean is exact in doubles and DuckDB
  * reproduces it bit-for-bit from hex pairs. Replaces an interpreted
  * `conv(substring(hex...))` fold that allocated a string per BYTE. */
case class FrameMeans(child: Expression, frameBytes: Int)
    extends UnaryExpression {
  require(frameBytes > 0, s"frame_means: need positive frameBytes")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"frame_means requires BINARY input, got $t")
    }
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "frame_means"

  override protected def nullSafeEval(input: Any): Any =
    FrameMeans.compute(input.asInstanceOf[Array[Byte]], frameBytes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.FrameMeans.compute($c, $frameBytes)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object FrameMeans {
  def compute(bytes: Array[Byte], frameBytes: Int): ArrayData = {
    val nf = bytes.length / frameBytes
    val out = new Array[Double](nf)
    var f = 0
    while (f < nf) {
      var sum = 0L
      var t = 0
      val off = f * frameBytes
      while (t < frameBytes) {
        sum += (bytes(off + t) & 0xff)
        t += 1
      }
      out(f) = sum.toDouble / frameBytes
      f += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Every `stride`-th byte of a BINARY payload (offsets 0, stride,
  * 2·stride, …) as BINARY — the downsample/decimation kernel of the
  * (stubbed) resize path, one pass, zero allocation beyond the output.
  * The relational formulation (hex-encode to a string, slice one 2-char
  * substring PER KEPT BYTE, concat, unhex) allocates a string per byte
  * — the exact pattern FrameMeans retired for frame stats; this is its
  * resize twin, and the seam where a real bilinear-resample kernel
  * would slot in (same signature: BINARY in, BINARY out, map-only). */
case class StrideSample(child: Expression, stride: Int)
    extends UnaryExpression {
  require(stride > 0, s"stride_sample: need positive stride, got $stride")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"stride_sample requires BINARY input, got $t")
    }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "stride_sample"

  override protected def nullSafeEval(input: Any): Any =
    StrideSample.compute(input.asInstanceOf[Array[Byte]], stride)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StrideSample.compute($c, $stride)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object StrideSample {
  def compute(bytes: Array[Byte], stride: Int): Array[Byte] = {
    val n = (bytes.length + stride - 1) / stride
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      out(i) = bytes(i * stride)
      i += 1
    }
    out
  }
}

object MediaExpressions {
  /** Per-window PCM16LE energy array of a BINARY column, one pass. */
  def pcm16WindowEnergy(c: Column, windowSamples: Int,
      channels: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      Pcm16WindowEnergy(
        org.apache.spark.sql.graft.Bridge.expression(c),
        windowSamples, channels))

  /** 60-bit byte-level average-hash of a BINARY column, one pass. */
  def ahash60(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      AHash60(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** words x 60-bit wide average-hash of a BINARY column, one pass. */
  def ahashWide(c: Column, words: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      AHashWide(org.apache.spark.sql.graft.Bridge.expression(c), words))

  /** Per-frame mean byte values of a BINARY column, one pass. */
  def frameMeans(c: Column, frameBytes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      FrameMeans(org.apache.spark.sql.graft.Bridge.expression(c),
        frameBytes))

  /** Every stride-th byte of a BINARY column, one pass. */
  def strideSample(c: Column, stride: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      StrideSample(org.apache.spark.sql.graft.Bridge.expression(c),
        stride))
}
