package graft.media

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Deflater, Inflater}
import org.scalatest.funsuite.AnyFunSuite

/** [[Inflate]] against `java.util.zip.Inflater` (zlib): identical output on
  * every stream the JDK's Deflater writes, and the identical decision —
  * finished, input ran out, or error — on hand-built edge streams and on a
  * seeded mutation corpus.
  */
class InflateSpec extends AnyFunSuite {
  import InflateSpec._

  /** How a decoder left a stream: Finished and Truncated carry the output. */

  private def zlib(z: Array[Byte]): Outcome = {
    val inf = new Inflater()
    inf.setInput(z)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        out.write(buf, 0, n)
        if (n == 0 && !inf.finished()) {
          if (inf.needsDictionary()) return Failed
          if (inf.needsInput()) return Truncated(out.toByteArray.toSeq)
        }
      }
      Finished(out.toByteArray.toSeq)
    } catch {
      case _: DataFormatException => Failed
    } finally inf.end()
  }

  /** Our decoder over `z` cut into segments at `cuts`, read `chunk` bytes at a time. */
  private def ours(z: Array[Byte], cuts: Seq[Int] = Nil, chunk: Int = 8192): Outcome = {
    val bounds = (0 +: cuts.filter(c => c >= 0 && c <= z.length).sorted :+ z.length).toArray
    val inf = new Inflate(z, bounds.init, bounds.tail)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](chunk)
    try {
      var n = chunk
      while (n == chunk) {
        n = inf.read(buf, 0, chunk)
        out.write(buf, 0, n)
      }
      if (inf.finished) Finished(out.toByteArray.toSeq) else Truncated(out.toByteArray.toSeq)
    } catch {
      case _: DataFormatException => Failed
    }
  }

  private def deflate(raw: Array[Byte], level: Int = 6, strategy: Int = Deflater.DEFAULT_STRATEGY,
                      pieces: Int = 1, flush: Int = Deflater.NO_FLUSH): Array[Byte] = {
    val d = new Deflater(level)
    d.setStrategy(strategy)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    val step = math.max(1, (raw.length + pieces - 1) / pieces)
    var at = 0
    while (at < raw.length) {
      val k = math.min(step, raw.length - at)
      d.setInput(raw, at, k)
      at += k
      var n = 0
      while ({ n = d.deflate(buf, 0, buf.length, flush); out.write(buf, 0, n); n == buf.length || !d.needsInput() }) ()
    }
    d.finish()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def rand(seed: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => mix(seed * 1000003 + i).toByte)

  /** Inputs with long and short matches, literals, runs, and more than the
    * 128 KiB the decoder holds between window slides.
    */
  private val inputs: Seq[(String, Array[Byte])] = {
    val words = Seq("the", "churro", "folio", "manuscript", "ink", "page", "of", "a")
    val text = Iterator.iterate(7L)(mix).map(r => words(((r >>> 1) % words.size).toInt))
      .take(40000).mkString(" ").getBytes("UTF-8")
    val rows = Array.tabulate(300 * 601)(i => if (i % 601 == 0) 0.toByte else if ((i / 601) % 7 == 3 && i % 5 == 0) 40.toByte else -1.toByte)
    Seq("empty" -> Array.emptyByteArray, "one" -> Array[Byte](42), "zeros" -> new Array[Byte](200000),
      "random" -> rand(3, 70000), "text" -> text, "raster" -> rows,
      "mixed" -> (rand(5, 3000) ++ text.take(50000) ++ rand(5, 3000) ++ new Array[Byte](40000)))
  }

  test("identical output on Deflater levels 0-9 x DEFAULT/FILTERED/HUFFMAN_ONLY, whole and segmented") {
    for ((name, raw) <- inputs; level <- 0 to 9;
         strategy <- Seq(Deflater.DEFAULT_STRATEGY, Deflater.FILTERED, Deflater.HUFFMAN_ONLY)) {
      val z = deflate(raw, level, strategy)
      val want = zlib(z)
      assert(want == Finished(raw.toSeq), s"$name level $level strategy $strategy: reference")
      assert(ours(z) == want, s"$name level $level strategy $strategy")
    }
    // segment cuts (empty and 1-byte segments among them) and read sizes
    // that stop the output anywhere, including inside a match
    for ((name, raw) <- inputs; k <- 0 until 4) {
      val z = deflate(raw, 3 * k)
      val cuts = (0 until 1 + k * 7).map(i => ((mix(k * 31L + i) >>> 1) % (z.length + 1)).toInt)
      val cutsWithEmpty = cuts ++ cuts.take(2) ++ cuts.take(1).map(_ + 1)
      for (chunk <- Seq(1, 7, 258, 4093, 1 << 17))
        if (chunk > 1 || raw.length < 80000)
          assert(ours(z, cutsWithEmpty, chunk) == Finished(raw.toSeq), s"$name level ${3 * k} chunk $chunk")
    }
  }

  test("empty stream and SYNC_FLUSH / FULL_FLUSH segments") {
    val empty = deflate(Array.emptyByteArray)
    assert(ours(empty) == zlib(empty) && zlib(empty) == Finished(Nil))
    for ((name, raw) <- inputs if raw.length > 1; flush <- Seq(Deflater.SYNC_FLUSH, Deflater.FULL_FLUSH);
         pieces <- Seq(2, 9, 64)) {
      val z = deflate(raw, 6, Deflater.DEFAULT_STRATEGY, pieces, flush)
      assert(zlib(z) == Finished(raw.toSeq), s"$name $flush x$pieces: reference")
      assert(ours(z) == zlib(z), s"$name $flush x$pieces")
      assert(ours(z, Seq(z.length / 3, z.length / 2), 1000) == zlib(z), s"$name $flush x$pieces cut")
    }
  }

  /** LSB-first bit writer for hand-built streams. */
  private final class Bits {
    private val out = new ByteArrayOutputStream()
    private var acc = 0L
    private var n = 0
    def put(v: Int, bits: Int): Bits = {
      acc |= (v.toLong & ((1L << bits) - 1)) << n
      n += bits
      while (n >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; n -= 8 }
      this
    }
    /** A Huffman code, most significant bit first. */
    def code(c: Int, len: Int): Bits = put(Integer.reverse(c) >>> (32 - len), len)
    def align(): Bits = { if (n > 0) put(0, 8 - n); this }
    def bytes: Array[Byte] = { align(); out.toByteArray }
  }

  private val header = Array[Byte](0x78, 0x9c.toByte)

  private def adler(raw: Array[Byte]): Array[Byte] = {
    val a = new java.util.zip.Adler32(); a.update(raw)
    java.nio.ByteBuffer.allocate(4).putInt(a.getValue.toInt).array()
  }

  private def fixedLit(b: Bits, sym: Int): Bits =
    if (sym < 144) b.code(0x30 + sym, 8)
    else if (sym < 256) b.code(0x190 + sym - 144, 9)
    else if (sym < 280) b.code(sym - 256, 7)
    else b.code(0xc0 + sym - 280, 8)

  private def canonical(lens: Array[Int]): Array[Int] = {
    val count = new Array[Int](16)
    lens.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](16)
    for (l <- 2 to 15) next(l) = (next(l - 1) + count(l - 1)) << 1
    lens.map(l => if (l > 0) { val c = next(l); next(l) += 1; c } else 0)
  }

  /** Dynamic block header: every code length written with a flat 4-bit
    * code-length code over the lengths 0-15 (no repeat codes).
    */
  private def dynamic(b: Bits, last: Boolean, lit: Array[Int], dist: Array[Int]): Bits = {
    b.put(if (last) 1 else 0, 1).put(2, 2)
    b.put(lit.length - 257, 5).put(dist.length - 1, 5).put(19 - 4, 4)
    val order = Seq(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)
    order.foreach(s => b.put(if (s < 16) 4 else 0, 3))
    (lit ++ dist).foreach(l => b.code(l, 4))
    b
  }

  /** Hand-built edge streams: (label, stream, what zlib must decide). */
  private def edgeStreams: Seq[(String, Array[Byte], String)] = {
    val a = "A".getBytes
    def fixed(body: Bits => Bits, raw: Array[Byte]): Array[Byte] =
      header ++ body(new Bits().put(1, 1).put(1, 2)).bytes ++ adler(raw)
    def eob(b: Bits): Bits = fixedLit(b, 256)
    val litA = { val l = new Array[Int](258); l(65) = 1; l(256) = 2; l(257) = 2; l }
    val codesA = canonical(litA)
    def single(distLens: Array[Int], distCode: Int): Array[Byte] = {
      val b = dynamic(new Bits, last = true, litA, distLens)
      b.code(codesA(65), 1).code(codesA(257), 2).code(distCode, 1).code(codesA(256), 2)
      header ++ b.bytes ++ adler("AAAA".getBytes)
    }
    val onlyEob = { val l = new Array[Int](257); l(256) = 1; l }
    // a real stream whose matches reach 1000 bytes back, relabelled CINFO=1
    val far = {
      val raw = rand(11, 1000) ++ rand(11, 1000)
      val z = deflate(raw, 6)
      z(0) = 0x18
      z(1) = ((z(1) & 0xe0) | (31 - ((0x18 * 256 + (z(1) & 0xe0)) % 31)) % 31).toByte
      z
    }
    Seq(
      ("fixed literal + end", fixed(b => eob(fixedLit(b, 65)), a), "finished"),
      ("fixed symbol 286", fixed(b => fixedLit(fixedLit(b, 65), 286), a), "failed"),
      ("fixed symbol 287", fixed(b => fixedLit(fixedLit(b, 65), 287), a), "failed"),
      ("fixed distance 30", fixed(b => fixedLit(fixedLit(b, 65), 257).code(30, 5), a), "failed"),
      ("fixed distance 31", fixed(b => fixedLit(fixedLit(b, 65), 257).code(31, 5), a), "failed"),
      ("distance past the output", fixed(b => eob(fixedLit(fixedLit(b, 65), 257).code(1, 5)), a), "failed"),
      ("distance = output", fixed(b => eob(fixedLit(fixedLit(b, 65), 257).code(0, 5)), "AAAA".getBytes), "finished"),
      ("block type 3", header ++ new Bits().put(1, 1).put(3, 2).bytes, "failed"),
      ("stored LEN != ~NLEN", header ++ new Bits().put(1, 3).align().put(1, 16).put(0xfffd, 16).put(65, 8).bytes ++ adler(a), "failed"),
      ("stored, empty then one byte", header ++ new Bits().put(0, 3).align().put(0, 16).put(0xffff, 16)
        .put(1, 3).align().put(1, 16).put(0xfffe, 16).put(65, 8).bytes ++ adler(a), "finished"),
      ("stored block cut short", header ++ new Bits().put(1, 3).align().put(5, 16).put(0xfffa, 16).put(65, 8).bytes, "truncated"),
      ("CINFO 8", Array[Byte](0x88.toByte, 0x1c) ++ fixed(b => eob(b), Array.emptyByteArray).drop(2), "failed"),
      ("CM 7", Array[Byte](0x77, 0x09) ++ fixed(b => eob(b), Array.emptyByteArray).drop(2), "failed"),
      ("FCHECK", Array[Byte](0x78, 0x9d.toByte) ++ fixed(b => eob(b), Array.emptyByteArray).drop(2), "failed"),
      ("FDICT with dictionary id", Array[Byte](0x78, 0xbb.toByte, 1, 2, 3, 4, 3, 0), "failed"),
      ("FDICT, id cut short", Array[Byte](0x78, 0xbb.toByte, 1, 2), "truncated"),
      ("Adler-32 mismatch", fixed(b => eob(fixedLit(b, 65)), "B".getBytes), "failed"),
      ("no Adler-32 trailer", fixed(b => eob(fixedLit(b, 65)), a).dropRight(4), "truncated"),
      ("half an Adler-32 trailer", fixed(b => eob(fixedLit(b, 65)), a).dropRight(2), "truncated"),
      ("287 literal/length codes", header ++ new Bits().put(1, 1).put(2, 2).put(30, 5).put(0, 5).put(15, 4).bytes, "failed"),
      ("31 distance codes", header ++ new Bits().put(1, 1).put(2, 2).put(0, 5).put(30, 5).put(15, 4).bytes, "failed"),
      ("repeat with nothing before it", header ++ new Bits().put(1, 1).put(2, 2).put(0, 5).put(0, 5).put(0, 4)
        .put(1, 3).put(1, 3).put(0, 3).put(0, 3).code(0, 1).put(0, 2).bytes ++ Array.fill[Byte](40)(0), "failed"),
      ("incomplete code-length set", header ++ new Bits().put(1, 1).put(2, 2).put(0, 5).put(0, 5).put(0, 4)
        .put(2, 3).put(0, 3).put(0, 3).put(0, 3).bytes ++ Array.fill[Byte](40)(0), "failed"),
      ("missing end-of-block code", header ++ dynamic(new Bits, last = true,
        { val l = new Array[Int](257); l(65) = 1; l(66) = 1; l }, Array(1)).bytes ++ Array.fill[Byte](8)(0), "failed"),
      ("single 1-bit literal/length code", header ++ dynamic(new Bits, last = true, onlyEob, Array(0)).code(0, 1).bytes ++ adler(Array.emptyByteArray), "finished"),
      ("its unused code", header ++ dynamic(new Bits, last = true, onlyEob, Array(0)).code(1, 1).bytes ++ Array.fill[Byte](4)(0), "failed"),
      ("single 1-bit distance code", single(Array(1), 0), "finished"),
      ("its unused distance code", single(Array(1), 1), "failed"),
      ("empty distance set, a length decoded", single(Array(0), 0), "failed"),
      ("incomplete literal/length set", header ++ dynamic(new Bits, last = true,
        { val l = new Array[Int](257); l(65) = 2; l(256) = 2; l }, Array(0)).bytes ++ Array.fill[Byte](8)(0), "failed"),
      ("over-subscribed literal/length set", header ++ dynamic(new Bits, last = true,
        { val l = new Array[Int](257); l(65) = 1; l(66) = 1; l(256) = 1; l }, Array(0)).bytes ++ Array.fill[Byte](8)(0), "failed"),
      ("incomplete distance set, two codes", header ++ dynamic(new Bits, last = true, litA, Array(2, 2)).bytes ++ Array.fill[Byte](8)(0), "failed"),
      ("CINFO 1, distances up to 1000", far, "finished"))
  }

  private def kind(o: Outcome): String = o match {
    case Finished(_) => "finished"
    case Truncated(_) => "truncated"
    case Failed => "failed"
  }

  test("hand-built edge streams: the decision zlib makes, and the same output") {
    edgeStreams.foreach { case (label, z, want) =>
      val ref = zlib(z)
      assert(kind(ref) == want, s"$label: reference decided ${kind(ref)}")
      assert(ours(z) == ref, label)
      assert(ours(z, Seq(1, z.length / 2), 1) == ref, s"$label, segmented, read byte by byte")
    }
  }

  test("seeded mutation corpus: same decision and output as zlib") {
    val raw = inputs.find(_._1 == "mixed").get._2.take(20000)
    val bases = Seq(deflate(raw, 6), deflate(raw, 1, Deflater.FILTERED), deflate(raw, 9, Deflater.HUFFMAN_ONLY),
      deflate(raw.take(3000), 0), deflate("a small fixed-code stream, fixed".getBytes, 9),
      deflate(raw, 6, Deflater.DEFAULT_STRATEGY, 5, Deflater.SYNC_FLUSH)) ++ edgeStreams.map(_._2)
    var decided = Map.empty[String, Int]
    bases.zipWithIndex.foreach { case (base, bi) =>
      (0 until 300).foreach { k =>
        val m = base.clone()
        val flips = 1 + (k % 3)
        (0 until flips).foreach { f =>
          val pos = ((mix(bi * 7919L + k * 31 + f) >>> 1) % m.length).toInt
          // most flips land in the first 64 bytes, where the block headers are
          val at = if (k % 2 == 0) pos % math.min(m.length, 64) else pos
          m(at) = (m(at) ^ (1 + (mix(k.toLong + f) & 0xfe))).toByte
        }
        val ref = zlib(m)
        decided = decided.updated(kind(ref), decided.getOrElse(kind(ref), 0) + 1)
        assert(ours(m) == ref, s"base $bi mutation $k")
      }
      // every truncation of the small bases, every 97th of the large ones
      val step = if (base.length < 600) 1 else 97
      (0 until base.length by step).foreach { n =>
        val t = base.take(n)
        assert(ours(t) == zlib(t), s"base $bi cut at $n")
      }
    }
    // the corpus reaches all three decisions
    assert(decided.keySet == Set("finished", "truncated", "failed"), decided)
  }
}

object InflateSpec {
  /** How a decoder left a stream: Finished and Truncated carry the output. */
  sealed trait Outcome
  final case class Finished(out: Seq[Byte]) extends Outcome
  final case class Truncated(out: Seq[Byte]) extends Outcome
  case object Failed extends Outcome
}
