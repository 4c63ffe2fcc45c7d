package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bloom bit-array aggregator over 60-bit key hashes — the filter of
  * the keyed store's per-region row blooms (HBase's HFile `ROW` bloom
  * analog: `HPopulate/src/main/java/org/northeastern/Main.java:54-73`
  * creates the table whose files would carry them). `reduce` sets k bits
  * per key (classic Kirsch–Mitzenmacher double hashing off the two
  * halves of the 60-bit hash), `merge` ORs bit arrays — associative +
  * commutative, so one partial-combined aggregate pass can build a
  * filter per group. The store itself builds its blooms in the pass that
  * materializes a region ([[graft.ops.KeyedStore]]) through the same
  * [[BloomAgg.add]] / [[BloomAgg.toBytes]], so both forms give the same
  * bytes.
  *
  * The driver-side membership probe ([[BloomAgg.maybeContains]]) shares
  * [[BloomAgg.bitsOf]] with the build, so the two can never
  * drift. False positives only (a miss is definitive — the property the
  * GET fast path relies on); no deletions (rebuilt per touched region on
  * every merge, alongside the sidecar stats refresh).
  */
final class BloomAgg(mBits: Int, k: Int)
    extends Aggregator[Long, Array[Long], Array[Byte]] {
  require(mBits % 64 == 0 && mBits > 0, s"mBits must be a positive multiple of 64: $mBits")

  def zero: Array[Long] = Array.ofDim[Long](mBits / 64)

  def reduce(b: Array[Long], h: Long): Array[Long] = {
    BloomAgg.add(b, h, k)
    b
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  def finish(b: Array[Long]): Array[Byte] = BloomAgg.toBytes(b)

  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object BloomAgg {
  /** The k bit positions of hash `h` in an m-bit filter: h1 + i·h2 double
    * hashing (h2 forced odd so the probe sequence cycles the whole
    * space). Shared by the executor-side build and the driver-side probe.
    */
  def bitsOf(h: Long, k: Int, mBits: Int): Seq[Int] = {
    val h1 = h & 0xffffffffL
    val h2 = ((h >>> 30) << 1) | 1L
    (0 until k).map { i =>
      (((h1 + i * h2) % mBits + mBits) % mBits).toInt
    }
  }

  /** Set the k bits of hash `h` in a filter held as 64-bit words — the
    * build step shared by [[BloomAgg.reduce]] and the keyed store's
    * per-region stats fold. */
  def add(words: Array[Long], h: Long, k: Int): Unit =
    bitsOf(h, k, words.length * 64).foreach { bit =>
      words(bit >> 6) |= 1L << (bit & 63)
    }

  /** The persisted form of a filter: its words, big-endian. */
  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    bb.array()
  }

  /** Driver-side membership probe against a [[BloomAgg.finish]] byte
    * array. False positives possible; false negatives never.
    */
  def maybeContains(bytes: Array[Byte], h: Long, k: Int): Boolean = {
    val mBits = bytes.length * 8
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val words = Array.ofDim[Long](bytes.length / 8)
    (0 until words.length).foreach(i => words(i) = bb.getLong(i * 8))
    bitsOf(h, k, mBits).forall(bit => (words(bit >> 6) & (1L << (bit & 63))) != 0)
  }

  /** Filter size for a region: ~10 bits/key at the target row count,
    * clamped to [2^10, 2^24] bits (128 B – 2 MiB per region — sidecar
    * stays control-plane-sized at any region target).
    */
  def sizeFor(targetRows: Long): Int = {
    val want = targetRows * 10
    var m = 1024
    while (m < want && m < (1 << 24)) m <<= 1
    m
  }
}
