package graft.media

import java.util.zip.{Adler32, DataFormatException}

/** zlib (RFC 1950) stream decoder for payloads already in memory: the one
  * inflater behind [[PngDecode]] (IDAT) and [[PdfPages]] (`/FlateDecode`).
  *
  * Input is read in place from `src[from(i), until(i))` for each segment
  * `i` in order, so IDAT payloads are never concatenated. Output is pulled
  * with [[read]], which can stop after any byte: a caller that knows how
  * much it wants (a PNG raster declared by IHDR, a PDF image of w·h·3
  * bytes) inflates at most one byte past it. The decoder owns the 32 KiB
  * history window and counts its own output ([[totalOut]]).
  *
  * Hot loops: Huffman codes decode through a table indexed by the low
  * 10 (literal/length) or 8 (distance) bits of a 64-bit bit buffer, with
  * second-level tables for longer codes; a match is one `arraycopy` when
  * its distance is at least its length or is 1 (from a constant run of
  * the byte), and doubling copies otherwise.
  *
  * It accepts and rejects what zlib's `inflate` does (as `java.util.zip`
  * ships it, with its default 32 KiB window):
  *  - header: FCHECK, CM = 8 and CINFO ≤ 7, and FDICT (a preset dictionary)
  *    is an error;
  *  - block type 3, a stored block whose LEN ≠ ~NLEN, more than 286
  *    literal/length or 30 distance codes, a code-length repeat with
  *    nothing to repeat or past the end, a missing end-of-block code;
  *  - over-subscribed or incomplete code sets, except that a literal/length
  *    or distance set may be a single one-bit code (the unused code is then
  *    an error when met), and an empty distance set is an error only when a
  *    distance is decoded; symbols 286/287 and distances 30/31 are errors;
  *  - a distance past the start of the output; like zlib, a distance past
  *    the smaller window a CINFO below 7 declares is accepted;
  *  - the Adler-32 trailer is checked once all four bytes are present.
  * Input that ends mid-stream is not an error here: [[read]] returns short
  * and [[finished]] stays false, and the caller decides. Errors throw
  * `DataFormatException` with zlib's message.
  */
private[media] final class Inflate(src: Array[Byte], from: Array[Int], until: Array[Int]) {
  import Inflate._

  def this(data: Array[Byte]) = this(data, Array(0), Array(data.length))

  // input: the current segment's unread bytes are src[ip, end); bits not
  // yet consumed sit in the low `bitcnt` bits of `bitbuf`, zeros above
  private var seg = 0
  private var ip = if (from.isEmpty) 0 else from(0)
  private var end = if (from.isEmpty) 0 else until(0)
  private val le = java.nio.ByteBuffer.wrap(src).order(java.nio.ByteOrder.LITTLE_ENDIAN)
  private var bitbuf = 0L
  private var bitcnt = 0

  // output: win[0, pos) is the produced tail of the stream (at least the
  // last 32 KiB of it), win[delivered, pos) not yet handed to the caller;
  // `base` bytes were produced before win(0); Adler-32 covers win[.., checked)
  private val win = new Array[Byte](WinBytes)
  private var pos = 0
  private var delivered = 0
  private var checked = 0
  private var base = 0L
  private val adler = new Adler32

  private var mode = Header
  private var last = false
  private var stalled = false
  private var storedLeft = 0
  private var lit: Array[Int] = null
  private var dist: Array[Int] = null

  /** The stream ended and its Adler-32 trailer matched. */
  def finished: Boolean = mode == Done

  /** Bytes handed out by [[read]] so far. */
  def totalOut: Long = base + delivered

  /** Inflate up to `len` bytes into `dst(off ..)`; returns the count, which
    * is short only when the stream has ended or the input ran out.
    */
  def read(dst: Array[Byte], off: Int, len: Int): Int = {
    var done = 0
    while (done < len) {
      if (delivered < pos) {
        val k = math.min(pos - delivered, len - done)
        System.arraycopy(win, delivered, dst, off + done, k)
        delivered += k
        done += k
      } else if (mode == Done || stalled) return done
      else {
        if (pos >= Limit) slide()
        produce(math.min(Limit.toLong, pos.toLong + (len - done)).toInt)
      }
    }
    done
  }

  private def fail(msg: String): Nothing = throw new DataFormatException(msg)

  /** Keep the last 32 KiB of history, at the front of the window. */
  private def slide(): Unit = {
    adler.update(win, checked, pos - checked)
    System.arraycopy(win, pos - MaxDist, win, 0, MaxDist)
    base += pos - MaxDist
    pos = MaxDist
    delivered = pos
    checked = pos
  }

  private def nextSegment(): Boolean = {
    while (seg + 1 < from.length) {
      seg += 1
      ip = from(seg)
      end = until(seg)
      if (ip < end) return true
    }
    false
  }

  /** Top the bit buffer up to at least 56 bits, or to the end of the input. */
  private def refill(): Unit =
    if (end - ip >= 8) {
      bitbuf |= le.getLong(ip) << bitcnt
      val k = (63 - bitcnt) >>> 3
      ip += k
      bitcnt += k << 3
      bitbuf &= -1L >>> (64 - bitcnt)
    } else
      while (bitcnt <= 56 && (ip < end || nextSegment())) {
        bitbuf |= (src(ip) & 0xffL) << bitcnt
        ip += 1
        bitcnt += 8
      }

  private def need(n: Int): Boolean = {
    if (bitcnt < n) refill()
    bitcnt >= n
  }

  private def bits(n: Int): Int = (bitbuf & ((1L << n) - 1)).toInt

  private def drop(n: Int): Unit = { bitbuf >>>= n; bitcnt -= n }

  private def alignToByte(): Unit = drop(bitcnt & 7)

  private def produce(target: Int): Unit =
    while (pos < target && !stalled && mode != Done) {
      (mode: @annotation.switch) match {
        case Header => header()
        case Block => blockHeader()
        case Stored => stored(target)
        case Huffman => huffman(target)
        case _ => trailer()
      }
    }

  private def header(): Unit =
    if (!need(16)) stalled = true
    else {
      val cmf = bits(8)
      val flg = (bitbuf >>> 8).toInt & 0xff
      if ((cmf * 256 + flg) % 31 != 0) fail("incorrect header check")
      if ((cmf & 15) != 8) fail("unknown compression method")
      if ((cmf >>> 4) > 7) fail("invalid window size")
      if ((flg & 0x20) != 0) {
        // zlib reads the 4-byte dictionary id before it asks for the dictionary
        if (!need(48)) { stalled = true; return }
        fail("needs a preset dictionary")
      }
      drop(16)
      mode = Block
    }

  private def blockHeader(): Unit = {
    if (last) { alignToByte(); mode = Trailer; return }
    if (!need(3)) { stalled = true; return }
    last = (bitbuf & 1) != 0
    val kind = (bitbuf >>> 1).toInt & 3
    drop(3)
    kind match {
      case 0 =>
        alignToByte()
        if (!need(32)) { stalled = true; return }
        val n = bits(16)
        if (n != (bits(32) >>> 16 ^ 0xffff)) fail("invalid stored block lengths")
        drop(32)
        storedLeft = n
        mode = Stored
      case 1 =>
        lit = FixedLit
        dist = FixedDist
        mode = Huffman
      case 2 => if (dynamicTables()) mode = Huffman else stalled = true
      case _ => fail("invalid block type")
    }
  }

  private def stored(target: Int): Unit = {
    while (storedLeft > 0 && pos < target) {
      if (bitcnt >= 8) { // whole bytes the bit buffer read ahead come first
        win(pos) = bitbuf.toByte
        drop(8)
        pos += 1
        storedLeft -= 1
      } else if (ip < end) {
        val k = math.min(math.min(storedLeft, target - pos), end - ip)
        System.arraycopy(src, ip, win, pos, k)
        ip += k
        pos += k
        storedLeft -= k
      } else if (!nextSegment()) { stalled = true; return }
    }
    if (storedLeft == 0) mode = Block
  }

  /** Read a dynamic block's code tables; false when the input runs out. */
  private def dynamicTables(): Boolean = {
    if (!need(14)) return false
    val nlen = bits(5) + 257
    val ndist = ((bitbuf >>> 5).toInt & 31) + 1
    val ncode = ((bitbuf >>> 10).toInt & 15) + 4
    drop(14)
    if (nlen > 286 || ndist > 30) fail("too many length or distance symbols")
    val lens = new Array[Int](320)
    var i = 0
    while (i < ncode) {
      if (!need(3)) return false
      lens(CodeOrder(i)) = bits(3)
      drop(3)
      i += 1
    }
    val cl = build(lens, 0, 19, 7, codeLengths = true)
    if (cl == null) fail("invalid code lengths set")
    java.util.Arrays.fill(lens, 0, 19, 0)
    val n = nlen + ndist
    var have = 0
    while (have < n) {
      refill()
      val e = cl(bits(7))
      val l = e & 15
      if (l > bitcnt) return false
      val sym = e >>> SymShift
      if (sym < 16) {
        drop(l)
        lens(have) = sym
        have += 1
      } else {
        val extra = if (sym == 16) 2 else if (sym == 17) 3 else 7
        if (l + extra > bitcnt) return false
        drop(l)
        if (sym == 16 && have == 0) fail("invalid bit length repeat")
        val v = if (sym == 16) lens(have - 1) else 0
        val copy = (if (sym == 18) 11 else 3) + bits(extra)
        drop(extra)
        if (have + copy > n) fail("invalid bit length repeat")
        java.util.Arrays.fill(lens, have, have + copy, v)
        have += copy
      }
    }
    if (lens(256) == 0) fail("invalid code -- missing end-of-block")
    lit = build(lens, 0, nlen, LitRoot, codeLengths = false)
    if (lit == null) fail("invalid literal/lengths set")
    dist = build(lens, nlen, ndist, DistRoot, codeLengths = false)
    if (dist == null) fail("invalid distances set")
    true
  }

  /** Decode literal/length and distance codes until `target` output bytes,
    * the end of the block, or the end of the input.
    */
  private def huffman(target: Int): Unit = {
    val w = win
    val lt = lit
    val dt = dist
    var bb = bitbuf
    var bc = bitcnt
    var p = pos
    var go = true
    while (go && p < target) {
      if (bc < 48) { // 48 bits hold a whole length/distance pair
        bitbuf = bb; bitcnt = bc
        refill()
        bb = bitbuf; bc = bitcnt
      }
      var e = lt(bb.toInt & LitMask)
      if ((e & Link) != 0)
        e = lt((e >>> SymShift) + ((bb >>> LitRoot).toInt & ((1 << ((e >>> 5) & 15)) - 1)))
      val l = e & 15
      val sym = e >>> SymShift
      if (l > bc) { stalled = true; go = false }
      else if (sym < 256) {
        bb >>>= l; bc -= l
        w(p) = sym.toByte
        p += 1
      } else if (sym == 256) {
        bb >>>= l; bc -= l
        mode = Block
        go = false
      } else if (sym > 285) fail("invalid literal/length code")
      else {
        val lx = LenExtra(sym - 257)
        var used = l + lx
        if (used > bc) { stalled = true; go = false }
        else {
          val length = LenBase(sym - 257) + ((bb >>> l).toInt & ((1 << lx) - 1))
          val t = bb >>> used
          var d = dt(t.toInt & DistMask)
          if ((d & Link) != 0)
            d = dt((d >>> SymShift) + ((t >>> DistRoot).toInt & ((1 << ((d >>> 5) & 15)) - 1)))
          val dl = d & 15
          val dsym = d >>> SymShift
          if (used + dl > bc) { stalled = true; go = false }
          else if (dsym > 29) fail("invalid distance code")
          else {
            val dx = DistExtra(dsym)
            if (used + dl + dx > bc) { stalled = true; go = false }
            else {
              val distance = DistBase(dsym) + ((t >>> dl).toInt & ((1 << dx) - 1))
              used += dl + dx
              if (distance > p) fail("invalid distance too far back")
              bb >>>= used; bc -= used
              val s = p - distance
              if (distance >= length) System.arraycopy(w, s, w, p, length)
              else if (distance == 1) System.arraycopy(Runs(w(s) & 0xff), 0, w, p, length)
              else {
                // the copied run has period `distance`: double it each step
                var c = 0
                while (c < length) {
                  val k = math.min(distance + c, length - c)
                  System.arraycopy(w, s, w, p + c, k)
                  c += k
                }
              }
              p += length
            }
          }
        }
      }
    }
    bitbuf = bb; bitcnt = bc; pos = p
  }

  private def trailer(): Unit =
    if (!need(32)) stalled = true
    else {
      val want = Integer.reverseBytes(bits(32))
      drop(32)
      adler.update(win, checked, pos - checked)
      checked = pos
      if (want != adler.getValue.toInt) fail("incorrect data check")
      mode = Done
    }
}

private[media] object Inflate {
  private final val Header = 0
  private final val Block = 1
  private final val Stored = 2
  private final val Huffman = 3
  private final val Trailer = 4
  private final val Done = 5

  private final val MaxDist = 1 << 15
  /** History plus room for 96 KiB of output between slides. */
  private final val WinBytes = 1 << 17
  /** Output stops here, so one more match (≤ 258 bytes) still fits. */
  private final val Limit = WinBytes - 258

  private final val LitRoot = 10
  private final val LitMask = (1 << LitRoot) - 1
  private final val DistRoot = 8
  private final val DistMask = (1 << DistRoot) - 1

  // table entry: symbol (or second-level table offset) << 9 | link bits << 5
  // | link flag | code length; a code the set leaves unused is symbol 511
  private final val SymShift = 9
  private final val Link = 16
  private final val Unused = (511 << SymShift) | 1

  /** A match at distance 1 repeats one byte: it is copied from that
    * byte's 258-byte run here, one `arraycopy` (`Arrays.fill` is a byte
    * loop, and was the decoder's hottest line on page rasters, whose
    * white rows are mostly distance-1 matches).
    */
  private val Runs = Array.tabulate(256)(v => Array.fill[Byte](258)(v.toByte))

  private val CodeOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)
  private val LenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
    35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val LenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
    3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
    257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289, 16385, 24577)
  private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
    7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)

  /** Decode table for the canonical code with lengths `lens[off, off + n)`:
    * 2^root first-level entries, then the second-level tables. Null when
    * the lengths over-subscribe the code, or leave it incomplete — which
    * zlib allows only for a literal/length or distance set whose longest
    * code is one bit. With no codes at all, every entry is a one-bit
    * [[Unused]] (a code-length set reads it as length 0, as zlib does).
    */
  private def build(lens: Array[Int], off: Int, n: Int, root: Int, codeLengths: Boolean): Array[Int] = {
    val count = new Array[Int](16)
    var s = 0
    while (s < n) { count(lens(off + s)) += 1; s += 1 }
    count(0) = 0
    var max = 15
    while (max > 0 && count(max) == 0) max -= 1
    val size = 1 << root
    if (max == 0) {
      val t = new Array[Int](size)
      java.util.Arrays.fill(t, if (codeLengths) 1 else Unused)
      return t
    }
    var left = 1
    var len = 1
    while (len <= 15) {
      left = (left << 1) - count(len)
      if (left < 0) return null
      len += 1
    }
    if (left > 0 && (codeLengths || max != 1)) return null
    // canonical codes, then how deep each first-level slot's subtable goes
    val next = new Array[Int](16)
    len = 2
    while (len <= 15) { next(len) = (next(len - 1) + count(len - 1)) << 1; len += 1 }
    val code = new Array[Int](n)
    val depth = new Array[Int](size)
    s = 0
    while (s < n) {
      val l = lens(off + s)
      if (l > 0) {
        code(s) = Integer.reverse(next(l)) >>> (32 - l)
        next(l) += 1
        if (l > root) {
          val slot = code(s) & (size - 1)
          depth(slot) = math.max(depth(slot), l - root)
        }
      }
      s += 1
    }
    var total = size
    var slot = 0
    while (slot < size) { if (depth(slot) > 0) total += 1 << depth(slot); slot += 1 }
    val t = new Array[Int](total)
    if (left > 0) java.util.Arrays.fill(t, 0, size, Unused)
    val subAt = new Array[Int](size)
    total = size
    slot = 0
    while (slot < size) {
      if (depth(slot) > 0) {
        subAt(slot) = total
        t(slot) = (total << SymShift) | (depth(slot) << 5) | Link
        total += 1 << depth(slot)
      }
      slot += 1
    }
    s = 0
    while (s < n) {
      val l = lens(off + s)
      if (l > 0) {
        val e = (s << SymShift) | l
        if (l <= root) {
          var i = code(s)
          while (i < size) { t(i) = e; i += 1 << l }
        } else {
          val sl = code(s) & (size - 1)
          var i = code(s) >>> root
          while (i < (1 << depth(sl))) { t(subAt(sl) + i) = e; i += 1 << (l - root) }
        }
      }
      s += 1
    }
    t
  }

  private val FixedLit: Array[Int] = {
    val lens = Array.tabulate(288)(s => if (s < 144) 8 else if (s < 256) 9 else if (s < 280) 7 else 8)
    build(lens, 0, 288, LitRoot, codeLengths = false)
  }

  private val FixedDist: Array[Int] = build(Array.fill(32)(5), 0, 32, DistRoot, codeLengths = false)
}
