package graft.perfbench

import graft.codec.{Chunks, StreamedTokens}
import graft.spark.TokenTableGen

/** Single-thread codec kernel timings, no Spark: token chunks of ~1M
  * tokens cut from the run's own generated rows, and 64Ki-row column
  * chunks of its lineitem rows. */
object Kernels {
  /** Int page codecs the token selector can pick. */
  val PageCodecs: Seq[String] =
    Seq("PLAIN", "FOR_BIT_PACKED", "PFOR", "RLE", "RLE_DICTIONARY", "DELTA_BINARY_PACKED")

  private def medianSecs(reps: Int)(f: => Unit): Double = {
    f // warm-up
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
  }

  def measure(from: Long, tiny: Boolean): Map[String, Double] = {
    val reps = if (tiny) 2 else 5
    val budget = if (tiny) 1 << 16 else 1 << 20
    var next = from
    val chunks = (0 until (if (tiny) 1 else 3)).map { _ =>
      val rows = Iterator.continually { val r = TokenTableGen.genRow(next); next += 1; r }
      var tokens = 0
      val taken = rows.takeWhile { r => val keep = tokens < budget; tokens += r.n_tok; keep }.toArray
      (taken.flatMap(_.tokens), taken.map(_.n_tok))
    }
    val tokens = chunks.map(_._1.length.toLong).sum.toDouble
    val encoded = chunks.map { case (flat, lens) => StreamedTokens.encode(flat, lens, lens.length, flat.length) }
    val encS = medianSecs(reps)(chunks.foreach { case (flat, lens) =>
      StreamedTokens.encode(flat, lens, lens.length, flat.length) })
    val decS = medianSecs(reps)(encoded.zip(chunks).foreach { case ((bytes, _), (_, lens)) =>
      StreamedTokens.decode(bytes, lens) })
    val picked = encoded.flatMap(_._2.split('+').toSeq)
    val shares = PageCodecs.map(c =>
      s"codec.page_share.$c" -> picked.count(_ == c).toDouble / math.max(1, picked.size))

    val n = if (tiny) 1 << 14 else 1 << 16
    val items = (0 until (if (tiny) 1 else 2)).map(k => Array.tabulate(n)(i => Inputs.lineItem(from + k * n + i)))
    val longs = items.flatMap(c => Seq(c.map(_.l_orderkey), c.map(_.l_partkey), c.map(_.l_suppkey)))
    val doubles = items.flatMap(c => Seq(c.map(_.l_quantity), c.map(_.l_extendedprice),
      c.map(_.l_discount), c.map(_.l_tax)))
    val strings = items.flatMap(c => Seq(c.map(_.l_returnflag.getBytes), c.map(_.l_linestatus.getBytes)))
    def mvals(cols: Int, secs: Double) = cols.toDouble * n / secs / 1e6
    val longEnc = longs.map(a => Chunks.encodeLongs(a, 0, n))
    val doubleEnc = doubles.map(a => Chunks.encodeDoubles(a, 0, n))
    val stringEnc = strings.map(a => Chunks.encodeStrings(a, 0, n))
    Map(
      "codec.tokens_encode_mtok_s" -> tokens / encS / 1e6,
      "codec.tokens_decode_mtok_s" -> tokens / decS / 1e6,
      "codec.tokens_bytes_per_token" -> encoded.map(_._1.length.toLong).sum / tokens,
      "codec.long_encode_mval_s" -> mvals(longs.size, medianSecs(reps)(longs.foreach(a => Chunks.encodeLongs(a, 0, n)))),
      "codec.long_decode_mval_s" -> mvals(longs.size, medianSecs(reps)(longEnc.foreach(Chunks.decodeLongs))),
      "codec.double_encode_mval_s" -> mvals(doubles.size, medianSecs(reps)(doubles.foreach(a => Chunks.encodeDoubles(a, 0, n)))),
      "codec.double_decode_mval_s" -> mvals(doubles.size, medianSecs(reps)(doubleEnc.foreach(Chunks.decodeDoubles))),
      "codec.string_encode_mval_s" -> mvals(strings.size, medianSecs(reps)(strings.foreach(a => Chunks.encodeStrings(a, 0, n)))),
      "codec.string_decode_mval_s" -> mvals(strings.size, medianSecs(reps)(stringEnc.foreach(Chunks.decodeStrings)))
    ) ++ shares
  }
}
