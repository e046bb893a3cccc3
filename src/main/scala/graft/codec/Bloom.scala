package graft.codec

/** Split-block bloom filter for per-chunk token membership.
  *
  * Structure follows the public parquet bloom-filter spec (also the
  * reference's split-block blooms, bloom/block.go:16-28, probed on read
  * in bloom.go:16-70): the filter is an array of 256-bit blocks (8 x
  * 32-bit words); a 64-bit hash picks the block with its high bits, and
  * the low 32 bits set/check one bit per word via 8 odd salts. An insert
  * or probe touches exactly one cache line. Hashing is splitmix64 —
  * engine-internal, no byte compatibility required.
  */
object Bloom {

  private final val Salt: Array[Int] = Array(
    0x47b6137b, 0x44974d91, 0x8824ad5b, 0xa2b7289d,
    0x705495c7, 0x2df1424b, 0x9efc4947, 0x5c6bfb31)

  final val WordsPerBlock = 8
  final val BytesPerBlock = 32

  /** Filter size in bytes for a chunk with `numTokens` values: ~2 bits
    * per raw token (duplicates are free, so the effective bits-per-
    * DISTINCT ratio is far higher on zipf-ish token data), clamped to
    * [64 B, 32 KiB] and rounded to a power of two so the block index is
    * a mask. At the 32 KiB cap a fully-distinct 1M-token chunk degrades
    * gracefully (min/max pruning still applies). */
  def sizeBytes(numTokens: Int): Int = {
    val target = math.max(64L, math.min(32L * 1024, numTokens.toLong / 4))
    Integer.highestOneBit(target.toInt) match {
      case p if p < target => p << 1
      case p => p
    }
  }

  @inline def hashInt(v: Int): Long =
    graft.spark.TokenTableGen.splitmix64(v.toLong)

  /** Sizing for DISTINCT-heavy value sets (generic per-column blooms):
    * ~8 bits per value (split-block FPP ≈ 2%), clamped to [64 B, 128 KiB]
    * and rounded to a power of two. `sizeBytes` above is tuned for raw
    * token streams where duplicates dominate; a distinct-per-row column
    * at 2 bits/value would prune nothing. */
  def sizeBytesForDistinct(n: Int): Int = {
    val target = math.max(64L, math.min(128L * 1024, n.toLong))
    Integer.highestOneBit(target.toInt) match {
      case p if p < target => p << 1
      case p => p
    }
  }

  /** 32-bit FNV-1a over bytes — the pre-hash for string/binary bloom
    * values (the filter re-hashes with splitmix64, so FNV quality
    * suffices). */
  def fnv1a(b: Array[Byte]): Int = {
    var h = 0x811C9DC5
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xFF)) * 0x01000193; i += 1 }
    h
  }

  /** Fold a long to the int the bloom pre-hash expects. */
  @inline def foldLong(v: Long): Int = ((v >>> 32) ^ v).toInt

  @inline private def blockIndex(h: Long, numBlocks: Int): Int =
    (((h >>> 32) * numBlocks) >>> 32).toInt // multiply-shift: unbiased, no modulo

  /** Insert into a word-array filter (build-time representation). */
  def insert(words: Array[Int], v: Int): Unit = {
    val h = hashInt(v)
    val block = blockIndex(h, words.length / WordsPerBlock) * WordsPerBlock
    val x = h.toInt
    var i = 0
    while (i < WordsPerBlock) {
      words(block + i) |= 1 << ((x * Salt(i)) >>> 27)
      i += 1
    }
  }

  /** Serialized-filter header: [Magic][CRC32 of the block bytes, LE] —
    * the filter carries its own integrity check, because a PRUNING
    * structure fails in the one direction CRCs exist for: a flipped bit
    * yields false negatives, and a pruned chunk is never decoded so its
    * whole-chunk CRC is never consulted. Probes verify the embedded CRC
    * before trusting a zero bit. */
  private final val Magic = 0xB7
  private final val HeaderBytes = 5

  /** Probe the serialized (little-endian) filter after verifying its
    * embedded CRC. Throws on CRC mismatch — corrupted pruning metadata
    * must fail loudly, not silently drop chunks. A missing filter, or
    * bytes without the magic-plus-CRC header, cannot prune: `true`. */
  def mightContain(bytes: Array[Byte], v: Int): Boolean = {
    if (bytes == null || bytes.length <= HeaderBytes || (bytes(0) & 0xFF) != Magic ||
      (bytes.length - HeaderBytes) % BytesPerBlock != 0) return true
    val len = bytes.length - HeaderBytes
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, HeaderBytes, len)
    val stored = (bytes(1) & 0xFFL) | ((bytes(2) & 0xFFL) << 8) |
      ((bytes(3) & 0xFFL) << 16) | ((bytes(4) & 0xFFL) << 24)
    require(crc.getValue == stored, "bloom filter CRC mismatch")
    val h = hashInt(v)
    val blockOff = HeaderBytes + blockIndex(h, len / BytesPerBlock) * BytesPerBlock
    val x = h.toInt
    var i = 0
    while (i < WordsPerBlock) {
      val off = blockOff + i * 4
      val word = (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8) |
        ((bytes(off + 2) & 0xFF) << 16) | ((bytes(off + 3) & 0xFF) << 24)
      if ((word & (1 << ((x * Salt(i)) >>> 27))) == 0) return false
      i += 1
    }
    true
  }

  def serialize(words: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](HeaderBytes + words.length * 4)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      val o = HeaderBytes + i * 4
      out(o) = w.toByte
      out(o + 1) = (w >>> 8).toByte
      out(o + 2) = (w >>> 16).toByte
      out(o + 3) = (w >>> 24).toByte
      i += 1
    }
    val crc = new java.util.zip.CRC32()
    crc.update(out, HeaderBytes, words.length * 4)
    val c = crc.getValue
    out(0) = Magic.toByte
    out(1) = c.toByte
    out(2) = (c >>> 8).toByte
    out(3) = (c >>> 16).toByte
    out(4) = (c >>> 24).toByte
    out
  }
}
