package graft.pipeline

import scala.collection.mutable.ArrayBuffer

/** JBIG2 (ITU-T T.88) — the bilevel codec modern scanners embed in
  * PDFs (`/JBIG2Decode`), typically 2-5× smaller than CCITT G4.
  * Pure JVM, BOTH directions, covering the embedded-stream subset a
  * PDF image XObject actually carries:
  *
  *  - the **MQ arithmetic coder** (T.88 Annex E: the 47-state Qe
  *    table shared with JPEG 2000, byte-stuffing around 0xFF,
  *    conditional exchange, flush with trailing-ones SETBITS);
  *  - **generic region** coding (§6.2), ALL FOUR GBTEMPLATEs with
  *    nominal AT pixels (r17 — 1-3 were declines), plain or TPGDON —
  *    the shapes encoders emit for scanned masks;
  *  - the **integer arithmetic decoding procedures** (Annex A:
  *    IADH/IADW/IAEX/IADT/IAFS/IADS/IAIT PREV-tree coding, IAID
  *    symbol IDs) feeding **symbol dictionaries** (§6.5, arithmetic
  *    subset: height classes, one shared GB context table across
  *    symbols, export runs) and **text regions** (§6.4:
  *    strip-decoded (S,T) placements, BOTTOMLEFT/TOPLEFT corners,
  *    OR composition) — the layout real scanner encoders emit for
  *    TEXT pages, with `/JBIG2Globals` shared dictionaries walking
  *    first (r16);
  *  - the **embedded segment layer** (§7.2 headers as PDF carries
  *    them, referred-segment resolution; unknown segment types are
  *    skipped by their declared length).
  *
  * Like [[PdfCrypt]] and [[CcittG4]], the ENCODER exists so fixtures
  * are produced by the same public-spec arithmetic the decoder
  * reverses — encode→container→decode is a live round trip and
  * randomized bitmaps exercise every MQ state transition. Honest
  * caveat (scoped like the Kafka item): the container has no
  * reference JBIG2 decoder or sample corpus, so CROSS-implementation
  * conformance (exact context bit order, table transcription) is
  * pinned only by the spec text itself; the segment layer, region
  * arithmetic, and PDF plumbing are fully exercised. MMR-mode
  * regions (T.6 coding) decode through [[CcittG4]]; **HUFFMAN-coded
  * symbol dictionaries and text regions** (SDHUFF/SBHUFF = 1, Annex B
  * standard tables, runcode symbol-ID codes, collective height-class
  * bitmaps — r17), **CUSTOM Huffman tables** (§7.4.13 type-53
  * segments, §B.2 assembly, selector-3 consumption order — r17),
  * **striped pages** (§7.4.8.5 unknown-height form with
  * end-of-stripe segments — r17), **refinement coding under both
  * GRTEMPLATEs** (§6.3, nominal ATs — r17) including **per-instance
  * refined text regions** (SBREFINE=1, §6.4.11) and
  * **multi-aggregate dictionary symbols** (REFAGGNINST > 1,
  * §6.5.8.2.2: an embedded text region on the dictionary's own
  * arithmetic stream), **all text-region placement modes** (§6.4.5:
  * TRANSPOSED, four REFCORNERs, the four SBCOMBOPs, SBDEFPIXEL —
  * r17), and **external region composition operators + the page
  * default pixel** (§7.4.8.5 — r17) decode too; files needing the
  * untranscribed B.7/B.9/B.10/B.12/B.13 standard-table alternates,
  * Huffman-mode refinement, TPGRON, or non-nominal AT pixels stay
  * payload-passthrough (None ⇒ the OCR seam), never misparsed.
  *
  * Bit convention: 1 = black (T.88 foreground), decode returns
  * byte-per-pixel luma (0 black, 255 white) — [[PdfImages.lumaGrid]]
  * ready, matching [[CcittG4.decode]].
  */
object Jbig2 {

  // ---- T.88 Table E.1: (Qe, NMPS, NLPS, SWITCH) per state.
  private val Qe = Array(0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221,
    0x5601, 0x5401, 0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601,
    0x5601, 0x5401, 0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801,
    0x2401, 0x2201, 0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101,
    0x0AC1, 0x09C1, 0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141,
    0x0111, 0x0085, 0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001,
    0x5601)
  private val Nmps = Array(1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29,
    15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31,
    32, 33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 45, 46)
  private val Nlps = Array(1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20,
    21, 14, 14, 15, 16, 17, 18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27,
    28, 29, 30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 46)
  private val Switch = Array(1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 1,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** MQ decoder over `data[start, end)` (T.88 Annex E software
    * conventions; reads past the end behave as 0xFF padding). */
  private final class MqDecoder(data: Array[Byte], start: Int, end: Int) {
    private var bp = start
    private var c = 0L
    private var a = 0L
    private var ct = 0
    private def b(i: Int): Int = if (i < end) data(i) & 0xff else 0xff

    private def byteIn(): Unit = {
      if (b(bp) == 0xff) {
        if (b(bp + 1) > 0x8f) { c += 0xff00; ct = 8 }
        else { bp += 1; c += b(bp).toLong << 9; ct = 7 }
      } else { bp += 1; c += b(bp).toLong << 8; ct = 8 }
    }

    // INITDEC
    c = b(bp).toLong << 16
    byteIn()
    c <<= 7; ct -= 7; a = 0x8000L

    /** Decode one decision under context slot `cx` of `ctx`. */
    def decode(ctx: Contexts, cx: Int): Int = {
      val i0 = ctx.i(cx) & 0xff
      val mps = ctx.mps(cx).toInt
      val qe = Qe(i0)
      a -= qe
      var d = 0
      if (((c >>> 16) & 0xffff) < qe) {
        // LPS path (with conditional exchange)
        if (a < qe) { d = mps; ctx.i(cx) = Nmps(i0).toByte }
        else {
          d = 1 - mps
          if (Switch(i0) == 1) ctx.mps(cx) = (1 - mps).toByte
          ctx.i(cx) = Nlps(i0).toByte
        }
        a = qe
        renorm()
      } else {
        c -= qe.toLong << 16
        if ((a & 0x8000L) == 0) {
          if (a < qe) {
            d = 1 - mps
            if (Switch(i0) == 1) ctx.mps(cx) = (1 - mps).toByte
            ctx.i(cx) = Nlps(i0).toByte
          } else { d = mps; ctx.i(cx) = Nmps(i0).toByte }
          renorm()
        } else d = mps
      }
      d
    }

    private def renorm(): Unit = {
      while ({
        if (ct == 0) byteIn()
        a <<= 1; c = (c << 1) & 0xffffffffL; ct -= 1
        (a & 0x8000L) == 0
      }) ()
    }
  }

  /** Per-region adaptive context table: two flat byte arrays, not
    * 2^16 heap objects — the table is reallocated per image, and on
    * small fixture images object-per-slot allocation dominated the
    * whole decode (the r15 ×10 probe caught it at ×4.8 wall). */
  private final class Contexts {
    val i = new Array[Byte](1 << 16)
    val mps = new Array[Byte](1 << 16)
    def reset(): Unit = {
      java.util.Arrays.fill(i, 0.toByte)
      java.util.Arrays.fill(mps, 0.toByte)
    }
  }

  /** Per-thread table reuse: a 128 KB fill beats a 128 KB allocation
    * per image under executor-thread churn (encode and decode never
    * overlap within one thread — each resets on entry). */
  private val ctxPool = new ThreadLocal[Contexts] {
    override def initialValue(): Contexts = new Contexts
  }
  private def pooledContexts(): Contexts = {
    val c = ctxPool.get()
    c.reset()
    c
  }

  /** Second per-thread table for the INTEGER arithmetic decoding
    * procedures (T.88 Annex A) — symbol-dictionary and text-region
    * segments interleave IAx decisions with generic-region pixel
    * decisions on ONE arithmetic decoder but with DISJOINT context
    * sets, so the two tables must coexist within a segment. */
  private val iaCtxPool = new ThreadLocal[Contexts] {
    override def initialValue(): Contexts = new Contexts
  }
  private def pooledIaContexts(): Contexts = {
    val c = iaCtxPool.get()
    c.reset()
    c
  }

  /** Third per-thread table for GENERIC REFINEMENT contexts (§6.3) —
    * refinement-coded symbols (SDREFAGG=1) interleave GR pixel
    * decisions with IAx decisions on one decoder, each with its own
    * context set. */
  private val grCtxPool = new ThreadLocal[Contexts] {
    override def initialValue(): Contexts = new Contexts
  }
  private def pooledGrContexts(): Contexts = {
    val c = grCtxPool.get()
    c.reset()
    c
  }

  /** MQ encoder (T.88 Annex E: CODEMPS/CODELPS, BYTEOUT with 0xFF
    * stuffing, SETBITS flush). */
  private final class MqEncoder {
    private val out = new ArrayBuffer[Byte]()
    private var a = 0x8000L
    private var c = 0L
    private var ct = 12
    private var bVal = -1                      // the byte "B" (not yet in out)
    private var firstByte = true

    def encode(ctx: Contexts, cx: Int, d: Int): Unit = {
      val i0 = ctx.i(cx) & 0xff
      val mps = ctx.mps(cx).toInt
      val qe = Qe(i0)
      if (d == mps) {                          // CODEMPS
        a -= qe
        if ((a & 0x8000L) == 0) {
          if (a < qe) a = qe else c += qe
          ctx.i(cx) = Nmps(i0).toByte
          renorm()
        } else c += qe
      } else {                                 // CODELPS
        a -= qe
        if (a < qe) c += qe else a = qe
        if (Switch(i0) == 1) ctx.mps(cx) = (1 - mps).toByte
        ctx.i(cx) = Nlps(i0).toByte
        renorm()
      }
    }

    private def renorm(): Unit = {
      while ({
        if (ct == 0) byteOut()
        a <<= 1; c = (c << 1) & 0xfffffffL
        // NOTE: C is 28 bits between BYTEOUTs; the carry bit lives at
        // bit 27 and is resolved in byteOut below
        ct -= 1
        (a & 0x8000L) == 0
      }) ()
    }

    private def push(v: Int): Unit = {
      if (!firstByte) out += bVal.toByte
      firstByte = false
      bVal = v & 0xff
    }

    private def byteOut(): Unit = {
      if (bVal == 0xff) { push((c >> 20).toInt); c &= 0xfffff; ct = 7 }
      else if (c < 0x8000000L) { push((c >> 19).toInt); c &= 0x7ffff; ct = 8 }
      else {
        bVal += 1
        if (bVal == 0xff) { c &= 0x7ffffffL; push((c >> 20).toInt); c &= 0xfffff; ct = 7 }
        else { push((c >> 19).toInt); c &= 0x7ffff; ct = 8 }
      }
    }

    def flush(): Array[Byte] = {
      // SETBITS (T.88 E.3.8): pick an in-interval final C whose
      // trailing bits are all ONES (the OpenJPEG/mqc convention:
      // C |= 0xFFFF, step back half an interval if that overshoots
      // C+A). Trailing ones matter beyond spec conformance: the
      // DECODER pads past the end of the payload with 0xFF bytes, so
      // a flush that zeroes the tail can disagree with what the
      // decoder reads back for the final decisions — observed as
      // rare round-trip breaks under the r15-ADVICE flush-to-zeros
      // variant (5/500 q352 fixtures). C | 0xFFFF ∈ [C, C+0x10000);
      // if ≥ C+A, subtracting 0x8000 lands in [C+A−0x8000, C+A) ⊂
      // [C, C+A) since A ≥ 0x8000 — always valid, never past C+A.
      val tempC = c + a
      c |= 0xffffL
      if (c >= tempC) c -= 0x8000L
      c <<= ct; byteOut()
      c <<= ct; byteOut()
      if (!firstByte) out += bVal.toByte
      out.toArray
    }
  }

  // ---- generic region, template 0, nominal AT pixels
  // (A1 = (+3,-1), A2 = (-3,-1), A3 = (+2,-2), A4 = (-2,-2)),
  // TPGDON off. Context = 16 pixels, packed row-by-row (y-2 group,
  // then y-1 group, then current-row group), matching the figure
  // order of T.88 §6.2.5.3.
  // Context pixels in the T.88 figure's raster order — each row
  // sorted by x with the nominal AT positions interleaved where they
  // sit: (y-2): A4(-2),-1,0,+1,A3(+2); (y-1): A2(-3),-2,-1,0,+1,+2,
  // A1(+3); (y): -4,-3,-2,-1. Interoperable decoders build the
  // 16-bit context in exactly this order; a permutation would still
  // self-round-trip but read REAL encoders' streams as garbage.
  private val T0dx = Array(-2 /* A4 */, -1, 0, 1, 2 /* A3 */,
    -3 /* A2 */, -2, -1, 0, 1, 2, 3 /* A1 */, -4, -3, -2, -1)
  private val T0dy = Array(-2, -2, -2, -2, -2,
    -1, -1, -1, -1, -1, -1, -1, 0, 0, 0, 0)

  // GBTEMPLATE 1-3 (§6.2.5.3 — r17): the smaller contexts real
  // encoders pick for speed, nominal A1 interleaved at its raster
  // slot like template 0 above (A1 = (+3,−1) for template 1,
  // (+2,−1) for 2 and 3; template 3 has NO y−2 row).
  private val T1dx = Array(-1, 0, 1, 2,
    -2, -1, 0, 1, 2, 3 /* A1 */, -3, -2, -1)
  private val T1dy = Array(-2, -2, -2, -2,
    -1, -1, -1, -1, -1, -1, 0, 0, 0)
  private val T2dx = Array(-1, 0, 1,
    -2, -1, 0, 1, 2 /* A1 */, -2, -1)
  private val T2dy = Array(-2, -2, -2,
    -1, -1, -1, -1, -1, 0, 0)
  private val T3dx = Array(-3, -2, -1, 0, 1, 2 /* A1 */, -4, -3, -2, -1)
  private val T3dy = Array(-1, -1, -1, -1, -1, -1, 0, 0, 0, 0)
  private val Tdx = Array(T0dx, T1dx, T2dx, T3dx)
  private val Tdy = Array(T0dy, T1dy, T2dy, T3dy)

  private def ctxAt(px: Array[Byte], w: Int, h: Int, x: Int, y: Int,
      template: Int): Int = {
    val dxs = Tdx(template)
    val dys = Tdy(template)
    var cx = 0
    var k = 0
    while (k < dxs.length) {
      val xx = x + dxs(k); val yy = y + dys(k)
      val bit =
        if (xx < 0 || xx >= w || yy < 0) 0   // out-of-region pixels are 0
        else px(yy * w + xx) & 1
      cx = (cx << 1) | bit
      k += 1
    }
    cx
  }

  /** The TPGDON pseudo-pixel contexts per template (T.88 §6.2.5.7):
    * one decision per row says "this row repeats the one above". */
  private val TpgdCtx = Array(0x9b25, 0x0795, 0x00e5, 0x0195)

  /** Generic-region pixel decode on an EXISTING decoder + context
    * table — symbol dictionaries decode every symbol bitmap through
    * one shared decoder and one shared GB table (T.88 §6.5.8.1), so
    * the procedure cannot own either. */
  private def decodeGenericWith(
      mq: MqDecoder, cxs: Contexts, w: Int, h: Int,
      tpgdon: Boolean, template: Int = 0): Array[Byte] = {
    val px = new Array[Byte](w * h)
    var ltp = false
    var y = 0
    while (y < h) {
      if (tpgdon && mq.decode(cxs, TpgdCtx(template)) == 1) ltp = !ltp
      if (tpgdon && ltp) {
        if (y > 0) System.arraycopy(px, (y - 1) * w, px, y * w, w)
        // y == 0: the row above is all-0 background; the row stays 0
      } else {
        var x = 0
        while (x < w) {
          px(y * w + x) = mq.decode(cxs, ctxAt(px, w, h, x, y, template)).toByte
          x += 1
        }
      }
      y += 1
    }
    px
  }

  /** Arithmetic generic-region decode: `data` is the MQ-coded pixel
    * stream, output is one byte per pixel (1 = black). With
    * `tpgdon`, each row starts with an LTP-toggle decision under the
    * pseudo-pixel context; a typical row copies the row above and
    * codes no pixels. */
  private def decodeGeneric(
      data: Array[Byte], start: Int, end: Int, w: Int, h: Int,
      tpgdon: Boolean, template: Int): Array[Byte] =
    decodeGenericWith(new MqDecoder(data, start, end), pooledContexts(),
      w, h, tpgdon, template)

  private def encodeGenericWith(
      mq: MqEncoder, cxs: Contexts, px: Array[Byte], w: Int, h: Int,
      tpgdon: Boolean, template: Int = 0): Unit = {
    var ltp = false
    var y = 0
    while (y < h) {
      val typical = tpgdon && {
        var same = true
        var x = 0
        while (same && x < w) {
          val above = if (y == 0) 0 else px((y - 1) * w + x) & 1
          same = (px(y * w + x) & 1) == above
          x += 1
        }
        same
      }
      if (tpgdon) {
        mq.encode(cxs, TpgdCtx(template), if (typical != ltp) 1 else 0)
        ltp = typical
      }
      if (!typical) {
        var x = 0
        while (x < w) {
          mq.encode(cxs, ctxAt(px, w, h, x, y, template), px(y * w + x) & 1)
          x += 1
        }
      }
      y += 1
    }
  }

  private def encodeGeneric(
      px: Array[Byte], w: Int, h: Int, tpgdon: Boolean,
      template: Int = 0): Array[Byte] = {
    val mq = new MqEncoder
    encodeGenericWith(mq, pooledContexts(), px, w, h, tpgdon, template)
    mq.flush()
  }

  // ---- integer arithmetic decoding procedures (T.88 Annex A): each
  // IAx procedure owns a 512-slot context region (PREV tree, 9 bits)
  // inside ONE shared table; IAID owns 2^(SYMCODELEN+1) slots. All
  // procedures of a segment share a single MQ coder with the
  // generic-region pixel contexts living in a SEPARATE table.

  private val IADH = 0
  private val IADW = 512
  private val IAEX = 1024
  private val IAAI = 1536
  private val IADT = 2048
  private val IAFS = 2560
  private val IADS = 3072
  private val IAIT = 3584
  private val IARDX = 4096
  private val IARDY = 4608
  private val IARI = 5120
  private val IARDW = 5632
  private val IARDH = 6144
  private val IAID = 8192
  private val MaxSymCodeLen = 12              // IAID tree ≤ 8192 slots

  /** Sentinel for the A.2 OOB decision (S=1, V=0). */
  private val OOB = Int.MinValue

  /** Sentinel for an out-of-Int-range decoded value: the 32-bit tail
    * of A.2 can carry v ≥ 2^31, which `.toInt` would silently alias
    * into a small valid-looking delta that passes downstream range
    * checks (r16 ADVICE) — and `-(2^31)` would collide with [[OOB]].
    * Every call site treats [[BAD]] as a hard decode failure, never
    * as a legal OOB (end-of-class / end-of-strip). */
  private val BAD = Int.MinValue + 1

  /** A.2 IAx decode: value, [[OOB]], or [[BAD]]. */
  private def decodeInt(mq: MqDecoder, cx: Contexts, off: Int): Int = {
    var prev = 1
    def bit(): Int = {
      val b = mq.decode(cx, off + prev)
      prev =
        if (prev < 256) (prev << 1) | b
        else ((((prev << 1) | b) & 511) | 256)
      b
    }
    def bits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    val s = bit()
    val v: Long =
      if (bit() == 0) bits(2)
      else if (bit() == 0) bits(4) + 4
      else if (bit() == 0) bits(6) + 20
      else if (bit() == 0) bits(8) + 84
      else if (bit() == 0) bits(12) + 340
      else bits(32) + 4436
    if (s == 1 && v == 0) OOB
    // magnitude ≥ 2^31 − 1 is BAD, not a value: v ≥ 2^31 would wrap
    // in .toInt, and −(2^31 − 1) IS the BAD sentinel — no real
    // segment carries deltas near 2^31 (downstream caps are ≤ 2^20),
    // so declining the boundary value too keeps the sentinel space
    // collision-free
    else if (v >= Int.MaxValue) BAD
    else if (s == 1) (-v).toInt
    else v.toInt
  }

  /** A.2 inverse for the fixture encoder. Takes Long so hostile
    * out-of-Int-range values (the 32-bit tail reaches 2^32 + 4435)
    * can be encoded to pin the decoder's [[BAD]] rejection. */
  private def encodeInt(mq: MqEncoder, cx: Contexts, off: Int, value: Long): Unit = {
    var prev = 1
    def bit(b: Int): Unit = {
      mq.encode(cx, off + prev, b)
      prev =
        if (prev < 256) (prev << 1) | b
        else ((((prev << 1) | b) & 511) | 256)
    }
    def bits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(((v >> i) & 1).toInt); i -= 1 }
    }
    if (value == OOB.toLong) { bit(1); bit(0); bits(0, 2) }
    else {
      val s = if (value < 0) 1 else 0
      val v = math.abs(value)
      bit(s)
      if (v < 4) { bit(0); bits(v, 2) }
      else if (v < 20) { bit(1); bit(0); bits(v - 4, 4) }
      else if (v < 84) { bit(1); bit(1); bit(0); bits(v - 20, 6) }
      else if (v < 340) { bit(1); bit(1); bit(1); bit(0); bits(v - 84, 8) }
      else if (v < 4436) { bit(1); bit(1); bit(1); bit(1); bit(0); bits(v - 340, 12) }
      else { bit(1); bit(1); bit(1); bit(1); bit(1); bits(v - 4436, 32) }
    }
  }

  /** Test seam: round-trip `values` through the A.2 integer coder
    * (one shared context tree, the in-segment layout). Legal values
    * come back `Some(v)`; values the decoder must REJECT (≥ 2^31,
    * which `.toInt` would alias into small valid-looking deltas —
    * r16 ADVICE) come back `None`. */
  private[pipeline] def intCodingRoundTrip(values: Seq[Long]): Seq[Option[Int]] = {
    val payload = {
      val m = new MqEncoder
      val cx = pooledIaContexts()
      values.foreach(v => encodeInt(m, cx, IADH, v))
      m.flush()
    }
    val dec = new MqDecoder(payload, 0, payload.length)
    val cx = pooledIaContexts()               // fresh zeroed tree, like encode
    values.map { _ =>
      val d = decodeInt(dec, cx, IADH)
      if (d == OOB || d == BAD) None else Some(d)
    }
  }

  /** A.3 IAID decode: `len` fixed bits down the PREV tree. */
  private def decodeId(mq: MqDecoder, cx: Contexts, len: Int): Int = {
    var prev = 1
    var i = 0
    while (i < len) { prev = (prev << 1) | mq.decode(cx, IAID + prev); i += 1 }
    prev - (1 << len)
  }

  private def encodeId(mq: MqEncoder, cx: Contexts, len: Int, id: Int): Unit = {
    var prev = 1
    var i = len - 1
    while (i >= 0) {
      val b = (id >> i) & 1
      mq.encode(cx, IAID + prev, b)
      prev = (prev << 1) | b
      i -= 1
    }
  }

  /** One decoded symbol bitmap (byte-per-pixel, 1 = black). */
  private final case class Bitmap(w: Int, h: Int, px: Array[Byte])

  // ---- generic refinement region decoding (T.88 §6.3), GRTEMPLATE 1
  // (the AT-free template), TPGRON off: each pixel of the new bitmap
  // is coded under a 10-bit context drawn from the already-decoded
  // CODING neighborhood and the REFERENCE bitmap around the
  // corresponding position (x − dx, y − dy). Context packing order
  // (coding row above L-to-R, coding left, then reference: above,
  // left, center, right, below, below-right) follows the T.88
  // template figure; like the generic templates, the exact bit order
  // is pinned by spec text only (no reference decoder in the
  // container — encoder and decoder share one transcription).

  private def refCtxAt(
      cur: Array[Byte], w: Int, ref: Bitmap, dx: Int, dy: Int,
      x: Int, y: Int): Int = {
    def c(xx: Int, yy: Int): Int =
      if (xx < 0 || xx >= w || yy < 0) 0 else cur(yy * w + xx) & 1
    def r(xx: Int, yy: Int): Int =
      if (xx < 0 || xx >= ref.w || yy < 0 || yy >= ref.h) 0
      else ref.px(yy * ref.w + xx) & 1
    val rx = x - dx
    val ry = y - dy
    (c(x - 1, y - 1) << 9) | (c(x, y - 1) << 8) | (c(x + 1, y - 1) << 7) |
      (c(x - 1, y) << 6) |
      (r(rx, ry - 1) << 5) | (r(rx - 1, ry) << 4) | (r(rx, ry) << 3) |
      (r(rx + 1, ry) << 2) | (r(rx, ry + 1) << 1) | r(rx + 1, ry + 1)
  }

  /** GRTEMPLATE 0 (§6.3.5.3, r17): 13-bit context — 3 coding pixels
    * + the A1 adaptive pixel (nominal (−1, −1)) over the new bitmap,
    * 8 reference pixels + A2 (nominal (−1, −1)) around the shifted
    * position. Packing follows the template figure's raster order
    * with each AT appended to its group; only the NOMINAL AT shape is
    * admitted (the segment's AT bytes are checked by the caller), so
    * encoder and decoder share one transcription. */
  private def refCtxAt0(
      cur: Array[Byte], w: Int, ref: Bitmap, dx: Int, dy: Int,
      x: Int, y: Int): Int = {
    def c(xx: Int, yy: Int): Int =
      if (xx < 0 || xx >= w || yy < 0) 0 else cur(yy * w + xx) & 1
    def r(xx: Int, yy: Int): Int =
      if (xx < 0 || xx >= ref.w || yy < 0 || yy >= ref.h) 0
      else ref.px(yy * ref.w + xx) & 1
    val rx = x - dx
    val ry = y - dy
    (c(x, y - 1) << 12) | (c(x + 1, y - 1) << 11) | (c(x - 1, y) << 10) |
      (c(x - 1, y - 1) << 9) |                 // A1 nominal (−1, −1)
      (r(rx, ry - 1) << 8) | (r(rx + 1, ry - 1) << 7) |
      (r(rx - 1, ry) << 6) | (r(rx, ry) << 5) | (r(rx + 1, ry) << 4) |
      (r(rx - 1, ry + 1) << 3) | (r(rx, ry + 1) << 2) |
      (r(rx + 1, ry + 1) << 1) |
      r(rx - 1, ry - 1)                        // A2 nominal (−1, −1)
  }

  /** TPGRON pseudo-pixel contexts (§6.3.5.6): one decision per row
    * says "typical prediction active toggles"; under active LTP a
    * pixel whose 3×3 REFERENCE neighborhood is uniform takes that
    * value without a coded decision. The context is the template
    * pattern with ONLY the reference-center pixel set — under this
    * file's packing that is bit 5 (template 0) / bit 3 (template 1);
    * a review pass caught the first draft using slots that aliased
    * other pattern bits (self-consistent, but a conformant encoder's
    * LTP decisions would have trained the wrong adaptive state). */
  private val TpgrCtx0 = 0x0020
  private val TpgrCtx1 = 0x0008

  /** −1 when the 3×3 reference neighborhood around (rx, ry) is
    * mixed, else the uniform value (out-of-bounds reads 0). */
  private def uniformRef(ref: Bitmap, rx: Int, ry: Int): Int = {
    def r(xx: Int, yy: Int): Int =
      if (xx < 0 || xx >= ref.w || yy < 0 || yy >= ref.h) 0
      else ref.px(yy * ref.w + xx) & 1
    val v = r(rx - 1, ry - 1)
    var dy0 = -1
    while (dy0 <= 1) {
      var dx0 = -1
      while (dx0 <= 1) {
        if (r(rx + dx0, ry + dy0) != v) return -1
        dx0 += 1
      }
      dy0 += 1
    }
    v
  }

  private def decodeRefinementWith(
      mq: MqDecoder, gr: Contexts, w: Int, h: Int,
      ref: Bitmap, dx: Int, dy: Int, template: Int,
      tpgron: Boolean = false): Array[Byte] = {
    val px = new Array[Byte](w * h)
    var ltp = false
    var y = 0
    while (y < h) {
      if (tpgron && mq.decode(gr,
          if (template == 0) TpgrCtx0 else TpgrCtx1) == 1) ltp = !ltp
      var x = 0
      while (x < w) {
        val u = if (ltp) uniformRef(ref, x - dx, y - dy) else -1
        px(y * w + x) =
          if (u >= 0) u.toByte
          else {
            val cx =
              if (template == 0) refCtxAt0(px, w, ref, dx, dy, x, y)
              else refCtxAt(px, w, ref, dx, dy, x, y)
            mq.decode(gr, cx).toByte
          }
        x += 1
      }
      y += 1
    }
    px
  }

  private def encodeRefinementWith(
      mq: MqEncoder, gr: Contexts, target: Bitmap,
      ref: Bitmap, dx: Int, dy: Int, template: Int,
      tpgron: Boolean = false): Unit = {
    var ltp = false
    var y = 0
    while (y < target.h) {
      if (tpgron) {
        // a row is typical-codable when every uniform-reference pixel
        // already equals its uniform value — then LTP=1 skips them
        var typical = true
        var x = 0
        while (typical && x < target.w) {
          val u = uniformRef(ref, x - dx, y - dy)
          if (u >= 0 && (target.px(y * target.w + x) & 1) != u)
            typical = false
          x += 1
        }
        mq.encode(gr, if (template == 0) TpgrCtx0 else TpgrCtx1,
          if (typical != ltp) 1 else 0)
        ltp = typical
      }
      var x = 0
      while (x < target.w) {
        val skip = ltp && uniformRef(ref, x - dx, y - dy) >= 0
        if (!skip) {
          val cx =
            if (template == 0) refCtxAt0(target.px, target.w, ref, dx, dy, x, y)
            else refCtxAt(target.px, target.w, ref, dx, dy, x, y)
          mq.encode(gr, cx, target.px(y * target.w + x) & 1)
        }
        x += 1
      }
      y += 1
    }
  }

  // ---- T.88 Annex B: Huffman-coded integers — the OTHER coding mode
  // real encoders emit (SDHUFF/SBHUFF=1, typical of older hardware
  // compressors). A table is an ordered list of lines
  // (PREFLEN, RANGELEN, RANGELOW); prefix codes are assigned
  // canonically by the B.3 procedure (ascending code length, table
  // order within a length). kind: 0 = normal line (value = RANGELOW +
  // RANGELEN bits), 1 = lower range (value = RANGELOW − bits,
  // descending), 2 = upper range (ascending), 3 = OOB.
  // Honest caveat (same scope as the MQ tables, Jbig2.scala:33-38):
  // the standard tables below are transcribed from the spec text with
  // no reference decoder in the container to conformance-test
  // against; encoder and decoder share one transcription, so round
  // trips and oracle replays are exact regardless.

  private[pipeline] final case class HLine(prefLen: Int, rangeLen: Int,
      rangeLow: Long, kind: Int)

  /** Huffman-decoded sentinels (Long-domain). */
  private val HOOB = Long.MinValue
  private val HBAD = Long.MinValue + 1

  private[pipeline] final class HuffTable(val lines: IndexedSeq[HLine]) {
    // B.3 canonical assignment: codes of length L are consecutive,
    // starting from (previous length's last code + 1) << 1, walking
    // lines in TABLE order within each length. PREFLEN 0 = unused.
    // `valid` = the assignment never overflowed a length's code space
    // (Kraft ≤ 1) — standard tables are spec-pinned, but CUSTOM table
    // segments (§7.4.13) carry untrusted prefix lengths and an
    // overflowed assignment would alias two lines onto one code.
    var valid: Boolean = true
    val codes: Array[(Int, Int)] = {                 // (len, code) per line
      val out = new Array[(Int, Int)](lines.size)
      val maxLen = if (lines.isEmpty) 0 else lines.map(_.prefLen).max
      if (maxLen > 24) { valid = false; out }       // hostile widths
      else {
        var cur = 0
        var len = 1
        while (len <= maxLen) {
          for (i <- lines.indices if lines(i).prefLen == len) {
            out(i) = (len, cur)
            cur += 1
          }
          if (cur > (1 << len)) valid = false
          cur <<= 1
          len += 1
        }
        out
      }
    }

    /** Decode one value from `r`: value, [[HOOB]], or [[HBAD]] on a
      * code no line owns / reader overrun. */
    def decode(r: BitReader): Long = {
      var code = 0
      var len = 0
      while (len < 32) {
        val b = r.bit()
        if (b < 0) return HBAD
        code = (code << 1) | b
        len += 1
        var i = 0
        while (i < lines.size) {
          val ln = lines(i)
          if (ln.prefLen == len && codes(i) != null &&
              codes(i)._1 == len && codes(i)._2 == code) {
            ln.kind match {
              case 3 => return HOOB
              case 1 =>
                val v = r.bits(32); if (v < 0) return HBAD
                return ln.rangeLow - v
              case 2 =>
                val v = r.bits(32); if (v < 0) return HBAD
                return ln.rangeLow + v
              case _ =>
                if (ln.rangeLen == 0) return ln.rangeLow
                val v = r.bits(ln.rangeLen); if (v < 0) return HBAD
                return ln.rangeLow + v
            }
          }
          i += 1
        }
      }
      HBAD
    }
  }


  /** Spec pin: every admitted standard table round-trips its whole
    * domain (normal lines, range boundaries, lower/upper 32-bit
    * escapes, OOB) through one bit stream. */
  private[pipeline] def stdTableRoundTrip(): Boolean = {
    val cases = Seq(
      (1, Seq(0L, 15L, 16L, 271L, 272L, 65807L, 65808L, 100000L)),
      (2, Seq(0L, 1L, 2L, 3L, 10L, 11L, 74L, 75L, 1000L, HOOB)),
      (4, Seq(1L, 2L, 3L, 4L, 11L, 12L, 75L, 76L, 5000L)),
      (6, Seq(-2500L, -2049L, -2048L, -128L, -1L, 0L, 31L, 32L, 63L, 64L, 127L, 128L, 2047L, 2048L, 9999L)),
      (8, Seq(-20L, -16L, -15L, -8L, -7L, -6L, -5L, -4L, -3L, -2L, -1L, 0L, 1L, 2L, 3L, 4L, 19L, 20L, 21L, 22L, 37L, 38L, 69L, 70L, 133L, 134L, 261L, 262L, 389L, 390L, 645L, 646L, 1669L, 1670L, 5000L, HOOB)),
      (11, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 12L, 13L, 16L, 17L, 20L, 21L, 28L, 29L, 44L, 45L, 76L, 77L, 140L, 141L, 9000L)))
    var ok = true
    for ((tn, vals) <- cases) {
      val t = StdTables(tn)
      val w = new BitWriter
      vals.foreach(v => huffEncode(w, t, v))
      val payload = w.toArray
      val r = new BitReader(payload, 0, payload.length)
      val got = vals.map(_ => t.decode(r))
      if (got != vals) { println(s"TABLE $tn: want $vals got $got"); ok = false }
    }
    ok
  }

  /** MSB-first bit reader over `data[start, end)`; reads past the end
    * poison the reader (negative returns) instead of fabricating
    * padding — Huffman mode has no 0xFF-padding convention. */
  private final class BitReader(data: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var bitk = 0
    def bit(): Int = {
      if (pos >= end) return -1
      val b = (data(pos) >> (7 - bitk)) & 1
      bitk += 1
      if (bitk == 8) { bitk = 0; pos += 1 }
      b
    }
    /** `n` bits as a Long, MSB first; −1 on overrun (n ≤ 56). */
    def bits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        val b = bit()
        if (b < 0) return -1L
        v = (v << 1) | b
        i += 1
      }
      v
    }
    def byteAlign(): Unit = if (bitk != 0) { bitk = 0; pos += 1 }
    def bytePos: Int = pos
    /** Jump to an absolute byte offset (collective-bitmap payloads
      * are byte-counted, not bit-counted). */
    def seekByte(p: Int): Unit = { pos = p; bitk = 0 }
  }

  private final class BitWriter {
    private val out = new ArrayBuffer[Byte]()
    private var cur = 0
    private var bitk = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      bitk += 1
      if (bitk == 8) { out += cur.toByte; cur = 0; bitk = 0 }
    }
    def bits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(((v >> i) & 1).toInt); i -= 1 }
    }
    def byteAlign(): Unit = while (bitk != 0) bit(0)
    def append(bytes: Array[Byte]): Unit = {
      require(bitk == 0, "append requires byte alignment")
      out ++= bytes
    }
    def toArray: Array[Byte] = {
      byteAlign()
      out.toArray
    }
  }

  /** Encode `value` with `table` into `w` — the fixture-encoder
    * inverse of [[HuffTable.decode]]: first line whose range holds
    * the value wins (standard tables partition their domains). */
  private def huffEncode(w: BitWriter, t: HuffTable, value: Long): Unit = {
    // OOB is matched ONLY against the OOB line — the sentinel is
    // numerically Long.MinValue and would otherwise satisfy any
    // lower-range check
    val idx = t.lines.indices.find { i =>
      val ln = t.lines(i)
      ln.prefLen > 0 && (ln.kind match {
        case 3 => value == HOOB
        case 1 => value != HOOB && value <= ln.rangeLow
        case 2 => value >= ln.rangeLow
        case _ =>
          if (ln.rangeLen == 0) value == ln.rangeLow
          else value >= ln.rangeLow &&
            value < ln.rangeLow + (1L << ln.rangeLen)
      })
    }.getOrElse(throw new IllegalArgumentException(
      s"value $value not encodable by this table"))
    val ln = t.lines(idx)
    val (len, code) = t.codes(idx)
    w.bits(code.toLong, len)
    ln.kind match {
      case 3 => ()
      case 1 => w.bits(ln.rangeLow - value, 32)
      case 2 => w.bits(value - ln.rangeLow, 32)
      case _ => if (ln.rangeLen > 0) w.bits(value - ln.rangeLow, ln.rangeLen)
    }
  }

  private def hl(p: Int, r: Int, lo: Long): HLine = HLine(p, r, lo, 0)

  /** T.88 Annex B standard tables B.1–B.6, B.8, B.11 — the subset the
    * selector gates below admit (SDHUFFDH 0/1, SDHUFFDW 0/1, BMSIZE 0,
    * SBHUFFFS 0, SBHUFFDS 0, SBHUFFDT 0); every other selector value
    * (incl. 3 = custom table segment) declines to passthrough. */
  private val StdTables: Map[Int, HuffTable] = Map(
    1 -> new HuffTable(Vector(
      hl(1, 4, 0), hl(2, 8, 16), hl(3, 16, 272),
      HLine(3, 32, 65808L, 2))),
    2 -> new HuffTable(Vector(
      hl(1, 0, 0), hl(2, 0, 1), hl(3, 0, 2), hl(4, 3, 3), hl(5, 6, 11),
      HLine(6, 32, 75, 2), HLine(6, 0, 0, 3))),
    3 -> new HuffTable(Vector(
      hl(8, 8, -256), hl(1, 0, 0), hl(2, 0, 1), hl(3, 0, 2), hl(4, 3, 3),
      hl(5, 6, 11), HLine(8, 32, -257, 1), HLine(7, 32, 75, 2),
      HLine(6, 0, 0, 3))),
    4 -> new HuffTable(Vector(
      hl(1, 0, 1), hl(2, 0, 2), hl(3, 0, 3), hl(4, 3, 4), hl(5, 6, 12),
      HLine(5, 32, 76, 2))),
    5 -> new HuffTable(Vector(
      hl(7, 8, -255), hl(1, 0, 1), hl(2, 0, 2), hl(3, 0, 3), hl(4, 3, 4),
      hl(5, 6, 12), HLine(7, 32, -256, 1), HLine(6, 32, 76, 2))),
    6 -> new HuffTable(Vector(
      hl(5, 10, -2048), hl(4, 9, -1024), hl(4, 8, -512), hl(4, 7, -256),
      hl(5, 6, -128), hl(5, 5, -64), hl(4, 5, -32), hl(2, 7, 0),
      hl(3, 7, 128), hl(3, 8, 256), hl(4, 9, 512), hl(4, 10, 1024),
      HLine(6, 32, -2049, 1), HLine(6, 32, 2048, 2))),
    8 -> new HuffTable(Vector(
      hl(8, 3, -15), hl(9, 1, -7), hl(8, 1, -5), hl(9, 0, -3),
      hl(7, 0, -2), hl(4, 0, -1), hl(2, 1, 0), hl(5, 0, 2), hl(6, 0, 3),
      hl(3, 4, 4), hl(6, 1, 20), hl(4, 4, 22), hl(4, 5, 38),
      hl(5, 6, 70), hl(5, 7, 134), hl(6, 7, 262), hl(7, 8, 390),
      hl(6, 10, 646), HLine(9, 32, -16, 1), HLine(9, 32, 1670, 2),
      HLine(2, 0, 0, 3))),
    11 -> new HuffTable(Vector(
      hl(1, 0, 1), hl(2, 1, 2), hl(4, 0, 4), hl(4, 1, 5), hl(5, 1, 7),
      hl(5, 2, 9), hl(6, 2, 13), hl(7, 2, 17), hl(7, 3, 21),
      hl(7, 4, 29), hl(7, 5, 45), hl(7, 6, 77),
      HLine(7, 32, 141, 2))))

  /** Decode a CUSTOM Huffman table segment (§7.4.13, assembled by the
    * §B.2 procedure): flags byte (bit 0 HTOOB, bits 1-3 HTPS−1, bits
    * 4-6 HTRS−1), signed 32-bit HTLOW/HTHIGH, then (PREFLEN, RANGELEN)
    * line pairs walking [HTLOW, HTHIGH), a lower-range line at
    * HTLOW−1, an upper-range line at HTHIGH, and an OOB line when
    * flagged. None on reader overrun, a non-constructible prefix code
    * (Kraft overflow), or hostile line counts — the table is skipped
    * and selectors referring to it fail clean. */
  private def decodeTableSegment(
      data: Array[Byte], start: Int, end: Int): Option[HuffTable] = {
    if (end - start < 9) return None
    val flags = data(start) & 0xff
    val htoob = (flags & 1) != 0
    val htps = ((flags >> 1) & 7) + 1
    val htrs = ((flags >> 4) & 7) + 1
    val htlow = rdBe32(data, start + 1).toInt       // signed per §B.2
    val hthigh = rdBe32(data, start + 5).toInt
    if (htlow >= hthigh) return None
    val r = new BitReader(data, start + 9, end)
    val lines = new ArrayBuffer[HLine]()
    var cur = htlow.toLong
    var guard = 0
    while (cur < hthigh && guard < 4096) {
      guard += 1
      val p = r.bits(htps)
      val rl = r.bits(htrs)
      if (p < 0 || rl < 0 || rl > 32) return None
      lines += HLine(p.toInt, rl.toInt, cur, 0)
      cur += (1L << rl)
    }
    if (cur < hthigh) return None                   // guard exhausted
    val pl = r.bits(htps); if (pl < 0) return None
    lines += HLine(pl.toInt, 32, htlow - 1L, 1)
    val pu = r.bits(htps); if (pu < 0) return None
    lines += HLine(pu.toInt, 32, hthigh.toLong, 2)
    if (htoob) {
      val po = r.bits(htps); if (po < 0) return None
      lines += HLine(po.toInt, 0, 0, 3)
    }
    val t = new HuffTable(lines.toIndexedSeq)
    if (t.valid) Some(t) else None
  }

  /** Fixture-encoder inverse of [[decodeTableSegment]]: emit the
    * table segment DATA for `ranges` (PREFLEN, RANGELEN) lines
    * walking [htlow, hthigh), plus the lower/upper(/OOB) prefix
    * lengths. Returns (segment data, the table it decodes to). */
  private[pipeline] def encodeTableSegment(
      htlow: Int, hthigh: Int,
      ranges: Seq[(Int, Int)],
      lowerPref: Int, upperPref: Int,
      oobPref: Int = 0): (Array[Byte], HuffTable) = {
    require(htlow < hthigh, "HTLOW must be below HTHIGH")
    // smallest field widths that hold every emitted value
    val htps = widthOf(
      ranges.map(_._1).max.max(lowerPref).max(upperPref).max(oobPref))
    val htrs = widthOf(ranges.map(_._2).max)
    require(htps <= 8 && htrs <= 8, "HTPS/HTRS fit 3-bit fields + 1")
    val b = new ArrayBuffer[Byte]()
    b += (((if (oobPref > 0) 1 else 0) |
      ((htps - 1) << 1) | ((htrs - 1) << 4)) & 0xff).toByte
    be32(b, htlow.toLong & 0xffffffffL)
    be32(b, hthigh.toLong & 0xffffffffL)
    val w = new BitWriter
    val lines = new ArrayBuffer[HLine]()
    var cur = htlow.toLong
    for ((p, rl) <- ranges) {
      w.bits(p.toLong, htps); w.bits(rl.toLong, htrs)
      lines += HLine(p, rl, cur, 0)
      cur += (1L << rl)
    }
    require(cur >= hthigh, "ranges must cover [htlow, hthigh)")
    w.bits(lowerPref.toLong, htps)
    lines += HLine(lowerPref, 32, htlow - 1L, 1)
    w.bits(upperPref.toLong, htps)
    lines += HLine(upperPref, 32, hthigh.toLong, 2)
    if (oobPref > 0) {
      w.bits(oobPref.toLong, htps)
      lines += HLine(oobPref, 0, 0, 3)
    }
    b ++= w.toArray
    val t = new HuffTable(lines.toIndexedSeq)
    require(t.valid, "fixture table must be a constructible prefix code")
    (b.toArray, t)
  }

  /** Test seam for [[decodeTableSegment]]. */
  private[pipeline] def tableSegmentRoundTrip(
      htlow: Int, hthigh: Int, ranges: Seq[(Int, Int)],
      lowerPref: Int, upperPref: Int, oobPref: Int,
      values: Seq[Long]): Option[Seq[Option[Long]]] = {
    val (data, enc) = encodeTableSegment(htlow, hthigh, ranges,
      lowerPref, upperPref, oobPref)
    decodeTableSegment(data, 0, data.length).map { dec =>
      val w = new BitWriter
      values.foreach(v => huffEncode(w, enc, v))
      val payload = w.toArray
      val r = new BitReader(payload, 0, payload.length)
      values.map { _ =>
        val d = dec.decode(r)
        if (d == HOOB || d == HBAD) None else Some(d)
      }
    }
  }

  private def symCodeLenOf(numSyms: Int): Int = {
    var len = 0
    while ((1 << len) < numSyms) len += 1
    math.max(1, len)                          // 1-symbol dicts still code 1 bit
  }

  // ---- symbol dictionary (T.88 §6.5, arithmetic subset: SDHUFF=0,
  // SDREFAGG=0, template 0, nominal ATs). One MQ decoder for the
  // whole segment; symbol bitmaps share one GB context table, the
  // IAx procedures a second.

  /** Decode `numNew` new symbols + export flags over
    * `input ++ new`; returns the EXPORTED symbols in order. With
    * `refAgg` (SDREFAGG=1, §6.5.8.2) each new symbol is a
    * REFINEMENT of an earlier one: REFAGGNINST (IAAI, only the
    * single-instance form is in subset), reference ID (IAID over
    * input ∪ new), RDX/RDY offsets, then the §6.3 refinement decode
    * against that reference. */
  private def decodeSymbolDict(
      data: Array[Byte], start: Int, end: Int,
      numNew: Int, numEx: Int,
      input: IndexedSeq[Bitmap],
      refAgg: Boolean,
      rtemplate: Int): Option[IndexedSeq[Bitmap]] = {
    if (numNew < 0 || numNew > 4096 || numEx < 0 || numEx > 8192) return None
    val mq = new MqDecoder(data, start, end)
    val gb = pooledContexts()
    val ia = pooledIaContexts()
    val gr = if (refAgg) pooledGrContexts() else null
    val symCodeLen = symCodeLenOf(input.size + numNew)
    if (refAgg && symCodeLen > MaxSymCodeLen) return None
    val newSyms = new ArrayBuffer[Bitmap](numNew)
    var hcHeight = 0
    var totalPx = 0L                          // dictionary-wide allocation cap
    var classes = 0                           // height-class iteration guard:
    // the MQ decoder pads past the payload with 0xFF forever, so a
    // truncated dictionary could otherwise spin on empty height
    // classes (dh = 0, immediate OOB width) without ever reaching
    // numNew (review finding) — every legal class carries ≥ 1 symbol
    while (newSyms.size < numNew) {
      classes += 1
      if (classes > numNew + 64) return None
      val dh = decodeInt(mq, ia, IADH)
      if (dh == OOB || dh == BAD) return None
      hcHeight += dh
      if (hcHeight <= 0 || hcHeight > 4096) return None
      var symWidth = 0
      var classDone = false
      while (!classDone) {
        val dw = decodeInt(mq, ia, IADW)
        if (dw == BAD) return None
        if (dw == OOB) classDone = true
        else {
          symWidth += dw
          totalPx += symWidth.toLong * hcHeight
          if (symWidth <= 0 || symWidth > 4096 ||
            totalPx > (1L << 26) ||
            newSyms.size >= numNew) return None
          if (refAgg) {
            val nInst = decodeInt(mq, ia, IAAI)
            if (nInst == OOB || nInst == BAD || nInst < 1 || nInst > 64)
              return None
            if (nInst == 1) {
              // §6.5.8.2.1 single-instance DIRECT refinement
              val id = decodeId(mq, ia, symCodeLen)
              if (id < 0 || id >= input.size + newSyms.size) return None
              val rdx = decodeInt(mq, ia, IARDX)
              val rdy = decodeInt(mq, ia, IARDY)
              if (rdx == OOB || rdx == BAD || rdy == OOB || rdy == BAD ||
                math.abs(rdx) > 4096 || math.abs(rdy) > 4096) return None
              val ref =
                if (id < input.size) input(id) else newSyms(id - input.size)
              newSyms += Bitmap(symWidth, hcHeight,
                decodeRefinementWith(mq, gr, symWidth, hcHeight, ref, rdx, rdy,
                  rtemplate))
            } else {
              // §6.5.8.2.2 MULTI-AGGREGATE (r17): the symbol is a
              // TEXT REGION of its own size decoded on THIS segment's
              // arithmetic stream — SBSTRIPS=1, TOPLEFT, OR onto a 0
              // default, SBREFINE=1 with this dictionary's refinement
              // template, symbols = input ∪ new-so-far under the
              // dictionary-wide code length
              val avail = (input ++ newSyms).toIndexedSeq
              // per-symbol refinement budget far below the global cap:
              // a dictionary can hold 4096 aggregates, so a hostile
              // stream must not get 2^26 refinement pixels EACH
              decodeTextRegionWith(mq, ia, gr, symWidth, hcHeight,
                nInst, 0, 1, 0, avail, symCodeLen,
                transposed = false, combOp = 0, defPixel = 0,
                refine = true, rtemplate = rtemplate,
                refBudget = math.min(1L << 26,
                  16L * symWidth * hcHeight + 65536L)) match {
                case None => return None
                case Some(bm) => newSyms += Bitmap(symWidth, hcHeight, bm)
              }
            }
          } else newSyms += Bitmap(symWidth, hcHeight,
            decodeGenericWith(mq, gb, symWidth, hcHeight, tpgdon = false))
        }
      }
    }
    // export flags (§6.5.10): alternating EXRUNLENGTH runs starting
    // with flag 0 over input ++ new
    val all = input ++ newSyms
    val ex = new ArrayBuffer[Bitmap](numEx)
    var i = 0
    var curFlag = false
    var guard = 0
    while (i < all.size && guard < 4096) {
      guard += 1
      val run = decodeInt(mq, ia, IAEX)
      if (run == OOB || run < 0 || i + run > all.size) return None
      if (curFlag) ex ++= all.slice(i, i + run)
      i += run
      curFlag = !curFlag
    }
    if (ex.size != numEx) return None
    Some(ex.toIndexedSeq)
  }

  /** Encode `syms` as one height class per distinct height
    * (ascending), exporting all of them. */
  private def encodeSymbolDict(syms: Seq[Bitmap]): Array[Byte] = {
    val mq = new MqEncoder
    val gb = pooledContexts()
    val ia = pooledIaContexts()
    var prevH = 0
    for ((h, group) <- syms.groupBy(_.h).toSeq.sortBy(_._1)) {
      encodeInt(mq, ia, IADH, h - prevH)
      prevH = h
      var prevW = 0
      for (sym <- group) {
        encodeInt(mq, ia, IADW, sym.w - prevW)
        prevW = sym.w
        encodeGenericWith(mq, gb, sym.px, sym.w, sym.h, tpgdon = false)
      }
      encodeInt(mq, ia, IADW, OOB)
    }
    encodeInt(mq, ia, IAEX, 0)                // flag-0 run: export none…
    encodeInt(mq, ia, IAEX, syms.size)        // …then export all new
    mq.flush()
  }

  /** Refined-dictionary fixture encoder (SDREFAGG=1): each entry is
    * (target, wire reference id over input ∪ new-so-far, resolved
    * reference bitmap, dx, dy). Entries must arrive in
    * non-descending height order (they ARE the wire order — refined
    * ids reference it). Exports only the new symbols. */
  private def encodeSymbolDictRef(
      syms: Seq[(Bitmap, Int, Bitmap, Int, Int)],
      inputCount: Int,
      rtemplate: Int): Array[Byte] = {
    require(syms.map(_._1.h) == syms.map(_._1.h).sorted,
      "refined symbols must be pre-sorted by height (wire order)")
    val mq = new MqEncoder
    val ia = pooledIaContexts()
    val gr = pooledGrContexts()
    val symCodeLen = symCodeLenOf(inputCount + syms.size)
    var prevH = 0
    for ((h, group) <- syms.groupBy(_._1.h).toSeq.sortBy(_._1)) {
      encodeInt(mq, ia, IADH, h - prevH)
      prevH = h
      var prevW = 0
      for ((target, refId, ref, dx, dy) <- group) {
        encodeInt(mq, ia, IADW, target.w - prevW)
        prevW = target.w
        encodeInt(mq, ia, IAAI, 1)
        encodeId(mq, ia, symCodeLen, refId)
        encodeInt(mq, ia, IARDX, dx)
        encodeInt(mq, ia, IARDY, dy)
        encodeRefinementWith(mq, gr, target, ref, dx, dy, rtemplate)
      }
      encodeInt(mq, ia, IADW, OOB)
    }
    encodeInt(mq, ia, IAEX, inputCount)       // flag-0 run: skip the imports…
    encodeInt(mq, ia, IAEX, syms.size)        // …then export all new
    mq.flush()
  }

  /** Height-class export order of [[encodeSymbolDict]] — the symbol
    * IDs a text region must use against that dictionary. Returns for
    * each input index its exported ID. */
  private def exportOrder(syms: Seq[Bitmap]): Array[Int] = {
    val order = syms.zipWithIndex.toSeq
      .groupBy(_._1.h).toSeq.sortBy(_._1)
      .flatMap(_._2.map(_._2))
    val ids = new Array[Int](syms.size)
    for ((origIdx, exId) <- order.zipWithIndex) ids(origIdx) = exId
    ids
  }

  // ---- Huffman-coded symbol dictionary (T.88 §6.5, SDHUFF=1,
  // SDREFAGG=0): height-class deltas and width deltas are
  // Huffman-coded with the selected standard tables, and each height
  // class's symbol bitmaps are decoded COLLECTIVELY (§6.5.9): BMSIZE
  // (table B.1), byte-align, then either an UNCOMPRESSED bitmap
  // (BMSIZE = 0: HCHEIGHT rows of ceil(TOTWIDTH/8) bytes) or an
  // MMR-coded one (T.6 — the CcittG4 codec this library has), split
  // into symbols by their decoded widths.

  private def decodeSymbolDictHuff(
      data: Array[Byte], start: Int, end: Int,
      numNew: Int, numEx: Int,
      input: IndexedSeq[Bitmap],
      dhTab: HuffTable, dwTab: HuffTable,
      bmTab: HuffTable): Option[IndexedSeq[Bitmap]] = {
    if (numNew < 0 || numNew > 4096 || numEx < 0 || numEx > 8192) return None
    val r = new BitReader(data, start, end)
    val newSyms = new ArrayBuffer[Bitmap](numNew)
    var hcHeight = 0
    var totalPx = 0L
    var classes = 0
    while (newSyms.size < numNew) {
      classes += 1
      if (classes > numNew + 64) return None
      val dh = dhTab.decode(r)
      if (dh == HOOB || dh == HBAD) return None
      hcHeight += dh.toInt
      if (dh > 4096 || hcHeight <= 0 || hcHeight > 4096) return None
      // width pass: collect the class's widths (bitmaps come after,
      // collectively)
      var symWidth = 0
      var totWidth = 0L
      val widths = new ArrayBuffer[Int]()
      var classDone = false
      while (!classDone) {
        val dw = dwTab.decode(r)
        if (dw == HBAD) return None
        if (dw == HOOB) classDone = true
        else {
          if (dw > 4096 || dw < -4096) return None
          symWidth += dw.toInt
          totWidth += symWidth
          totalPx += symWidth.toLong * hcHeight
          if (symWidth <= 0 || symWidth > 4096 || totWidth > (1 << 20) ||
            totalPx > (1L << 26) ||
            newSyms.size + widths.size >= numNew + 1) return None
          widths += symWidth
        }
      }
      if (widths.isEmpty) return None         // every legal class carries >= 1
      // collective bitmap (§6.5.9)
      val bmSize = bmTab.decode(r)
      if (bmSize == HOOB || bmSize == HBAD || bmSize < 0 ||
        bmSize > (end - start)) return None
      r.byteAlign()
      val tw = totWidth.toInt
      val rowBytes = (tw + 7) / 8
      val coll: Array[Byte] =
        if (bmSize == 0) {
          // uncompressed, rows byte-aligned, MSB-first, 1 = black
          if (r.bytePos + rowBytes.toLong * hcHeight > end) return None
          val px = new Array[Byte](tw * hcHeight)
          var y = 0
          while (y < hcHeight) {
            val base = r.bytePos + y * rowBytes
            var x = 0
            while (x < tw) {
              px(y * tw + x) =
                ((data(base + (x >> 3)) >> (7 - (x & 7))) & 1).toByte
              x += 1
            }
            y += 1
          }
          r.seekByte(r.bytePos + rowBytes * hcHeight)
          px
        } else {
          val from = r.bytePos
          if (from + bmSize > end) return None
          CcittG4.decode(
            java.util.Arrays.copyOfRange(data, from, from + bmSize.toInt),
            tw, hcHeight) match {
            case None => return None
            case Some(luma) =>
              r.seekByte(from + bmSize.toInt)
              luma.map(b => (if ((b & 0xff) == 0) 1 else 0).toByte)
          }
        }
      // split by widths
      var x0 = 0
      for (w <- widths) {
        val px = new Array[Byte](w * hcHeight)
        var y = 0
        while (y < hcHeight) {
          System.arraycopy(coll, y * tw + x0, px, y * w, w)
          y += 1
        }
        newSyms += Bitmap(w, hcHeight, px)
        x0 += w
      }
    }
    // export runs (§6.5.10): table B.1 in Huffman mode
    val exTab = StdTables(1)
    val all = input ++ newSyms
    val ex = new ArrayBuffer[Bitmap](numEx)
    var i = 0
    var curFlag = false
    var guard = 0
    while (i < all.size && guard < 4096) {
      guard += 1
      val run = exTab.decode(r)
      if (run == HOOB || run == HBAD || run < 0 || i + run > all.size)
        return None
      if (curFlag) ex ++= all.slice(i, i + run.toInt)
      i += run.toInt
      curFlag = !curFlag
    }
    if (ex.size != numEx) return None
    Some(ex.toIndexedSeq)
  }

  /** Huffman fixture encoder: one height class per distinct height
    * (ascending), widths ASCENDING within a class (table B.2 has no
    * lower range — DW must be ≥ 0), collective bitmaps MMR-coded for
    * even `docParity`, uncompressed for odd; DH = B.4, DW = B.2,
    * BMSIZE = B.1. Exports all. */
  private def encodeSymbolDictHuff(
      syms: Seq[Bitmap], mmr: Boolean,
      dhTab0: HuffTable, dwTab0: HuffTable,
      bmTab0: HuffTable): Array[Byte] = {
    val w = new BitWriter
    val dhTab = if (dhTab0 != null) dhTab0 else StdTables(4)
    val dwTab = if (dwTab0 != null) dwTab0 else StdTables(2)
    val bmTab = if (bmTab0 != null) bmTab0 else StdTables(1)
    var prevH = 0
    for ((h, group0) <- syms.groupBy(_.h).toSeq.sortBy(_._1)) {
      val group = group0.sortBy(_.w)
      huffEncode(w, dhTab, h - prevH)
      prevH = h
      var prevW = 0
      for (sym <- group) {
        huffEncode(w, dwTab, sym.w - prevW)
        prevW = sym.w
      }
      huffEncode(w, dwTab, HOOB)
      // collective bitmap
      val tw = group.map(_.w).sum
      val coll = new Array[Byte](tw * h)
      var x0 = 0
      for (sym <- group) {
        var y = 0
        while (y < h) {
          System.arraycopy(sym.px, y * sym.w, coll, y * tw + x0, sym.w)
          y += 1
        }
        x0 += sym.w
      }
      if (mmr) {
        val payload = CcittG4.encode(
          coll.map(v => (if ((v & 1) == 1) 0 else 255).toByte), tw, h)
        huffEncode(w, bmTab, payload.length.toLong)
        w.byteAlign()
        w.append(payload)
      } else {
        huffEncode(w, bmTab, 0L)
        w.byteAlign()
        val rowBytes = (tw + 7) / 8
        val bytes = new Array[Byte](rowBytes * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < tw) {
            if ((coll(y * tw + x) & 1) == 1)
              bytes(y * rowBytes + (x >> 3)) =
                (bytes(y * rowBytes + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
            x += 1
          }
          y += 1
        }
        w.append(bytes)
      }
    }
    huffEncode(w, StdTables(1), 0L)           // flag-0 run: export none…
    huffEncode(w, StdTables(1), syms.size.toLong) // …then export all new
    w.toArray
  }

  /** Export order of [[encodeSymbolDictHuff]] (height asc, width asc
    * within a class, stable) — the IDs a Huffman text region must
    * use. */
  private def exportOrderHuff(syms: Seq[Bitmap]): Array[Int] = {
    val order = syms.zipWithIndex
      .sortBy { case (b, i) => (b.h, b.w, i) }
      .map(_._2)
    val ids = new Array[Int](syms.size)
    for ((origIdx, exId) <- order.zipWithIndex) ids(origIdx) = exId
    ids
  }

  // ---- text region (T.88 §6.4, subset: SBHUFF ∈ {0, 1}, SBREFINE=0,
  // TRANSPOSED ∈ {0, 1}, REFCORNER all four, SBCOMBOP all four
  // (OR/AND/XOR/XNOR), SBDEFPIXEL ∈ {0, 1} — r17 widened from the
  // TOPLEFT/BOTTOMLEFT OR-only shape).

  /** §6.4.5 steps (vi)-(xii): place one symbol instance at strip
    * coordinate `ti`, S-cursor `curs0`, under the placement mode —
    * the corner at the FAR end of the advancing S axis pre-advances
    * CURS (right corners when S runs across, bottom corners when
    * transposed S runs down), the near corner post-advances; the
    * symbol composes under `combOp` clipped to the region. Returns
    * the updated CURS. ONE implementation for the arithmetic and
    * Huffman decoders and the (inverted) encoder-side geometry. */
  private def placeSymbol(
      px: Array[Byte], w: Int, h: Int, sb: Bitmap,
      curs0: Int, ti: Int, transposed: Boolean, refCorner: Int,
      combOp: Int): Int = {
    var curs = curs0
    if (!transposed && (refCorner == 2 || refCorner == 3)) curs += sb.w - 1
    if (transposed && (refCorner == 0 || refCorner == 2)) curs += sb.h - 1
    val si = curs
    val cx = if (transposed) ti else si       // corner pixel (x, y)
    val cy = if (transposed) si else ti
    val left = if (refCorner == 0 || refCorner == 1) cx else cx - sb.w + 1
    val top = if (refCorner == 1 || refCorner == 3) cy else cy - sb.h + 1
    var yy = 0
    while (yy < sb.h) {
      val py = top + yy
      if (py >= 0 && py < h) {
        var xx = 0
        while (xx < sb.w) {
          val pxx = left + xx
          if (pxx >= 0 && pxx < w) {
            val s = sb.px(yy * sb.w + xx) & 1
            val d = px(py * w + pxx) & 1
            px(py * w + pxx) = (combOp match {
              case 0 => d | s
              case 1 => d & s
              case 2 => d ^ s
              case _ => 1 - (d ^ s)            // XNOR
            }).toByte
          }
          xx += 1
        }
      }
      yy += 1
    }
    if (!transposed && (refCorner == 0 || refCorner == 1)) curs += sb.w - 1
    if (transposed && (refCorner == 1 || refCorner == 3)) curs += sb.h - 1
    curs
  }

  /** Arithmetic text-region body over an EXISTING decoder and
    * context tables — the §6.5.8.2.2 MULTI-AGGREGATE path decodes a
    * text region INSIDE a symbol-dictionary segment sharing its one
    * arithmetic decoder, so the procedure cannot own them (same
    * shape as [[decodeGenericWith]]). With `refine` (SBREFINE=1,
    * §6.4.11), each instance carries an IARI decision; refined
    * instances decode RDW/RDH/RDX/RDY and a §6.3 refinement of the
    * symbol at `(⌊RDW/2⌋ + RDX, ⌊RDH/2⌋ + RDY)` — the refined bitmap
    * places instead of the symbol. `symCodeLen` is caller-supplied:
    * the aggregate path sizes it over the dictionary's FULL
    * input+new count, not the so-far-decoded prefix. */
  private def decodeTextRegionWith(
      mq: MqDecoder, ia: Contexts, gr: Contexts,
      w: Int, h: Int,
      numInstances: Int, logStrips: Int, refCorner: Int, dsOffset: Int,
      syms: IndexedSeq[Bitmap], symCodeLen: Int,
      transposed: Boolean, combOp: Int, defPixel: Int,
      refine: Boolean, rtemplate: Int,
      refBudget: Long = 1L << 26): Option[Array[Byte]] = {
    if (syms.isEmpty || numInstances < 0 || numInstances > (1 << 20)) return None
    if (symCodeLen > MaxSymCodeLen) return None
    val strips = 1 << logStrips
    val px = new Array[Byte](w * h)
    if (defPixel == 1) java.util.Arrays.fill(px, 1.toByte)
    // cumulative refinement allocation cap (review finding): without
    // it, 2^20 instances × 4096² targets let a few-KB hostile stream
    // run ~10^13 MQ decisions — MQ padding sustains decisions forever
    var refPx = 0L
    val dt0 = decodeInt(mq, ia, IADT)
    if (dt0 == OOB || dt0 == BAD) return None
    var stript = -dt0 * strips
    var firsts = 0
    var inst = 0
    var guard = 0
    while (inst < numInstances && guard < (numInstances + 2) * 2) {
      guard += 1
      val dt = decodeInt(mq, ia, IADT)
      if (dt == OOB || dt == BAD) return None
      stript += dt * strips
      var curs = 0
      var firstSym = true
      var stripDone = false
      // each strip runs to ITS OOB — including the last one (§6.4.5
      // step 3c: the strip loop ends on OOB, the instance count ends
      // the region loop). Leaving the final OOB unread breaks the
      // EMBEDDED use (§6.5.8.2.2 aggregates share the dictionary's
      // arithmetic stream, which continues after the region).
      while (!stripDone) {
        if (firstSym) {
          val dfs = decodeInt(mq, ia, IAFS)
          if (dfs == OOB || dfs == BAD) return None
          firsts += dfs
          curs = firsts
          firstSym = false
        } else {
          val ids = decodeInt(mq, ia, IADS)
          if (ids == BAD) return None
          if (ids == OOB) stripDone = true
          else curs += ids + dsOffset
        }
        if (!stripDone) {
          if (inst >= numInstances) return None  // over-declared strip
          val curt = if (strips == 1) 0 else decodeInt(mq, ia, IAIT)
          if (curt == OOB || curt == BAD) return None
          val ti = stript + curt
          val id = decodeId(mq, ia, symCodeLen)
          if (id < 0 || id >= syms.size) return None
          var sb = syms(id)
          if (refine) {
            val ri = decodeInt(mq, ia, IARI)
            if (ri == OOB || ri == BAD) return None
            if (ri != 0) {
              val rdw = decodeInt(mq, ia, IARDW)
              val rdh = decodeInt(mq, ia, IARDH)
              val rdx = decodeInt(mq, ia, IARDX)
              val rdy = decodeInt(mq, ia, IARDY)
              if (rdw == OOB || rdw == BAD || rdh == OOB || rdh == BAD ||
                rdx == OOB || rdx == BAD || rdy == OOB || rdy == BAD)
                return None
              val tw = sb.w + rdw
              val th = sb.h + rdh
              if (tw <= 0 || tw > 4096 || th <= 0 || th > 4096 ||
                math.abs(rdx) > 4096 || math.abs(rdy) > 4096) return None
              refPx += tw.toLong * th
              if (refPx > refBudget) return None
              sb = Bitmap(tw, th,
                decodeRefinementWith(mq, gr, tw, th, sb,
                  Math.floorDiv(rdw, 2) + rdx, Math.floorDiv(rdh, 2) + rdy,
                  rtemplate))
            }
          }
          curs = placeSymbol(px, w, h, sb, curs, ti,
            transposed, refCorner, combOp)
          inst += 1
        }
      }
    }
    Some(px)
  }

  private def decodeTextRegion(
      data: Array[Byte], start: Int, end: Int, w: Int, h: Int,
      numInstances: Int, logStrips: Int, refCorner: Int, dsOffset: Int,
      syms: IndexedSeq[Bitmap],
      transposed: Boolean, combOp: Int, defPixel: Int,
      refine: Boolean, rtemplate: Int): Option[Array[Byte]] = {
    if (syms.isEmpty) return None
    decodeTextRegionWith(
      new MqDecoder(data, start, end), pooledIaContexts(),
      if (refine) pooledGrContexts() else null,
      w, h, numInstances, logStrips, refCorner, dsOffset,
      syms, symCodeLenOf(syms.size),
      transposed, combOp, defPixel, refine, rtemplate)
  }

  /** Encode placements (top-left (x, y) regardless of `refCorner` or
    * `transposed` — the wire T coordinate is derived per corner and
    * axis), strip height `1 << logStrips` with IAIT-coded in-strip T
    * offsets. The wire S chain always runs on the MIN edge entering
    * and MAX edge leaving each symbol (the corner pre/post CURS
    * updates of §6.4.5 cancel into exactly that — see
    * [[placeSymbol]]). */
  /** Text-region body on an EXISTING encoder/context tables — the
    * inverse of [[decodeTextRegionWith]], shared by standalone text
    * segments and the §6.5.8.2.2 aggregate path (which runs INSIDE a
    * dictionary's arithmetic stream). `variants(i)` refines
    * placement i: (target bitmap, RDX, RDY) — RDW/RDH derive from
    * the target dims; None emits IARI=0 when `refine`. */
  private def encodeTextRegionDataWith(
      mq: MqEncoder, ia: Contexts, gr: Contexts,
      syms: Seq[Bitmap], placements: Seq[(Int, Int, Int)],
      variants: Seq[Option[(Bitmap, Int, Int)]],
      logStrips: Int, refCorner: Int, transposed: Boolean,
      refine: Boolean, rtemplate: Int, symCodeLen: Int): Unit = {
    val strips = 1 << logStrips
    // (sym, s, T, stripT, idx): T per the reference corner over the
    // INSTANCE dims (a refined instance advances by ITS size)
    val coords = placements.zipWithIndex.map { case ((sym, x, y), i) =>
      val inst = variants(i).map(_._1).getOrElse(syms(sym))
      val t =
        if (!transposed) {
          if (refCorner == 1 || refCorner == 3) y else y + inst.h - 1
        } else {
          if (refCorner == 0 || refCorner == 1) x else x + inst.w - 1
        }
      val sEntry = if (transposed) y else x
      require(t >= 0, s"negative T for placement ($sym, $x, $y)")
      (sym, sEntry, t, (t / strips) * strips, i)
    }
    encodeInt(mq, ia, IADT, 0)                // STRIPT starts at 0
    var prevT = 0
    var firsts = 0
    for ((stripT, ps0) <- coords.groupBy(_._4).toSeq.sortBy(_._1)) {
      val ps = ps0.sortBy(_._2)
      encodeInt(mq, ia, IADT, (stripT - prevT) / strips)
      prevT = stripT
      var curs = 0
      var first = true
      for ((sym, s, t, _, i) <- ps) {
        if (first) {
          encodeInt(mq, ia, IAFS, s - firsts)
          firsts = s
          first = false
        } else encodeInt(mq, ia, IADS, s - curs)
        curs = s
        if (strips > 1) encodeInt(mq, ia, IAIT, t - stripT)
        encodeId(mq, ia, symCodeLen, sym)
        val inst = variants(i).map(_._1).getOrElse(syms(sym))
        if (refine) variants(i) match {
          case None => encodeInt(mq, ia, IARI, 0)
          case Some((target, rdx, rdy)) =>
            encodeInt(mq, ia, IARI, 1)
            val rdw = target.w - syms(sym).w
            val rdh = target.h - syms(sym).h
            encodeInt(mq, ia, IARDW, rdw)
            encodeInt(mq, ia, IARDH, rdh)
            encodeInt(mq, ia, IARDX, rdx)
            encodeInt(mq, ia, IARDY, rdy)
            encodeRefinementWith(mq, gr, target, syms(sym),
              Math.floorDiv(rdw, 2) + rdx, Math.floorDiv(rdh, 2) + rdy,
              rtemplate)
        }
        curs += (if (transposed) inst.h else inst.w) - 1
      }
      encodeInt(mq, ia, IADS, OOB)
    }
  }

  private def encodeTextRegionData(
      syms: Seq[Bitmap], placements: Seq[(Int, Int, Int)],
      logStrips: Int, refCorner: Int,
      transposed: Boolean = false): Array[Byte] = {
    val symCodeLen = symCodeLenOf(syms.size)
    require(symCodeLen <= MaxSymCodeLen, s"too many symbols: ${syms.size}")
    val mq = new MqEncoder
    encodeTextRegionDataWith(mq, pooledIaContexts(), null,
      syms, placements, placements.map(_ => None),
      logStrips, refCorner, transposed,
      refine = false, rtemplate = 1, symCodeLen = symCodeLen)
    mq.flush()
  }

  // ---- Huffman-coded text region (T.88 §6.4, SBHUFF=1): FS/DS/DT
  // from the selected standard tables, in-strip T as raw
  // LOG2(SBSTRIPS) bits, and symbol IDs through the RUNCODE-built
  // Huffman table of §7.4.3.1.7 (35 runcode prefix lengths of 4 bits
  // each; runcodes 0-31 are literal code lengths, 32 repeats the
  // previous length 3+bits(2) times, 33 emits 3+bits(3) zero lengths,
  // 34 emits 11+bits(7) zero lengths; then byte-align).

  private def decodeSymbolIdTable(
      r: BitReader, nsyms: Int): Option[HuffTable] = {
    val runLines = Vector.tabulate(35) { i =>
      val p = r.bits(4)
      if (p < 0) return None
      HLine(p.toInt, 0, i.toLong, 0)
    }
    val runTab = new HuffTable(runLines)
    val lens = new Array[Int](nsyms)
    var i = 0
    var prev = -1
    var guard = 0
    while (i < nsyms && guard < nsyms * 4 + 64) {
      guard += 1
      val code = runTab.decode(r)
      if (code == HOOB || code == HBAD || code < 0 || code > 34) return None
      if (code < 32) { lens(i) = code.toInt; prev = code.toInt; i += 1 }
      else {
        val (rep, len) = code match {
          case 32 =>
            if (prev < 0) return None
            val n = r.bits(2); if (n < 0) return None; (n + 3, prev)
          case 33 =>
            val n = r.bits(3); if (n < 0) return None; (n + 3, 0)
          case _ =>
            val n = r.bits(7); if (n < 0) return None; (n + 11, 0)
        }
        if (i + rep > nsyms) return None
        var k = 0
        while (k < rep) { lens(i) = len; i += 1; k += 1 }
      }
    }
    if (i != nsyms) return None
    r.byteAlign()
    Some(new HuffTable(Vector.tabulate(nsyms)(k =>
      HLine(lens(k), 0, k.toLong, 0))))
  }

  private def decodeTextRegionHuff(
      data: Array[Byte], start: Int, end: Int, w: Int, h: Int,
      numInstances: Int, logStrips: Int, refCorner: Int, dsOffset: Int,
      syms: IndexedSeq[Bitmap],
      fsTab: HuffTable, dsTab: HuffTable, dtTab: HuffTable,
      transposed: Boolean, combOp: Int, defPixel: Int)
      : Option[Array[Byte]] = {
    if (syms.isEmpty || numInstances < 0 || numInstances > (1 << 20)) return None
    val strips = 1 << logStrips
    val r = new BitReader(data, start, end)
    val idTab = decodeSymbolIdTable(r, syms.size).getOrElse(return None)
    val px = new Array[Byte](w * h)
    if (defPixel == 1) java.util.Arrays.fill(px, 1.toByte)
    val dt0 = dtTab.decode(r)
    if (dt0 == HOOB || dt0 == HBAD || dt0 < -(1 << 20) || dt0 > (1 << 20))
      return None
    var stript = (-dt0).toInt * strips
    var firsts = 0
    var inst = 0
    var guard = 0
    while (inst < numInstances && guard < (numInstances + 2) * 2) {
      guard += 1
      val dt = dtTab.decode(r)
      if (dt == HOOB || dt == HBAD || dt < 0 || dt > (1 << 20)) return None
      stript += dt.toInt * strips
      var curs = 0
      var firstSym = true
      var stripDone = false
      // run each strip to its OOB (incl. the last) — see the
      // arithmetic twin above
      while (!stripDone) {
        if (firstSym) {
          val dfs = fsTab.decode(r)
          if (dfs == HOOB || dfs == HBAD ||
            dfs < -(1 << 20) || dfs > (1 << 20)) return None
          firsts += dfs.toInt
          curs = firsts
          firstSym = false
        } else {
          val ids = dsTab.decode(r)
          if (ids == HBAD) return None
          if (ids == HOOB) stripDone = true
          else if (ids < -(1 << 20) || ids > (1 << 20)) return None
          else curs += ids.toInt + dsOffset
        }
        if (!stripDone) {
          if (inst >= numInstances) return None  // over-declared strip
          val curt = if (strips == 1) 0L else r.bits(logStrips)
          if (curt < 0) return None
          val ti = stript + curt.toInt
          val id = idTab.decode(r)
          if (id == HOOB || id == HBAD || id < 0 || id >= syms.size) return None
          curs = placeSymbol(px, w, h, syms(id.toInt), curs, ti,
            transposed, refCorner, combOp)
          inst += 1
        }
      }
    }
    Some(px)
  }

  /** Huffman fixture encoder for text-region data: fixed-length
    * symbol codes (every symbol gets length ceil(log2 n) — emitted as
    * one 1-bit runcode per symbol through a runcode table whose only
    * used prefix is that literal), FS = B.6, DS = B.8, DT = B.11.
    * B.11 carries no zero, so STRIPT initializes to −SBSTRIPS (DT0 =
    * 1) and every strip delta is ≥ 1. */
  private def encodeTextRegionDataHuff(
      syms: Seq[Bitmap], placements: Seq[(Int, Int, Int)],
      logStrips: Int, refCorner: Int,
      fsTab0: HuffTable, dsTab0: HuffTable,
      dtTab0: HuffTable): Array[Byte] = {
    val symCodeLen = symCodeLenOf(syms.size)
    require(symCodeLen <= MaxSymCodeLen, s"too many symbols: ${syms.size}")
    val strips = 1 << logStrips
    val w = new BitWriter
    // runcode prefix lengths: only the literal `symCodeLen` is used
    for (i <- 0 until 35) w.bits(if (i == symCodeLen) 1L else 0L, 4)
    // every symbol: that literal (its canonical code is the single
    // 1-bit code 0)
    for (_ <- syms.indices) w.bit(0)
    w.byteAlign()
    val fsTab = if (fsTab0 != null) fsTab0 else StdTables(6)
    val dsTab = if (dsTab0 != null) dsTab0 else StdTables(8)
    val dtTab = if (dtTab0 != null) dtTab0 else StdTables(11)
    // a custom DT table that carries 0 lets STRIPT start at 0; B.11
    // has no zero, so the standard path initializes STRIPT to
    // -SBSTRIPS with DT0 = 1 and every strip delta stays >= 1
    val dtZero = dtTab0 != null
    val coords = placements.map { case (sym, x, y) =>
      val t = if (refCorner == 1) y else y + syms(sym).h - 1
      require(t >= 0, s"negative T for placement ($sym, $x, $y)")
      (sym, x, t, (t / strips) * strips)
    }
    huffEncode(w, dtTab, if (dtZero) 0L else 1L)
    var prevT = if (dtZero) 0 else -strips
    var firsts = 0
    for ((stripT, ps0) <- coords.groupBy(_._4).toSeq.sortBy(_._1)) {
      val ps = ps0.sortBy(_._2)
      huffEncode(w, dtTab, ((stripT - prevT) / strips).toLong)
      prevT = stripT
      var curs = 0
      var first = true
      for ((sym, s, t, _) <- ps) {
        if (first) {
          huffEncode(w, fsTab, (s - firsts).toLong)
          firsts = s
          first = false
        } else huffEncode(w, dsTab, (s - curs).toLong)
        curs = s
        if (strips > 1) w.bits((t - stripT).toLong, logStrips)
        w.bits(sym.toLong, symCodeLen)
        curs += syms(sym).w - 1
      }
      huffEncode(w, dsTab, HOOB)
    }
    w.toArray
  }

  /** Encode a TEXT page in HUFFMAN mode (SDHUFF=1 / SBHUFF=1) — the
    * layout older hardware encoders emit. Same API as [[encodeText]];
    * `mmrCollective` picks MMR vs uncompressed height-class
    * collective bitmaps (§6.5.9, both real shapes). Standard tables
    * only (DH=B.4, DW=B.2, BMSIZE=B.1, EX=B.1; FS=B.6, DS=B.8,
    * DT=B.11). */
  def encodeTextHuff(
      w: Int, h: Int,
      symbols: Seq[(Int, Int, Array[Byte])],
      placements: Seq[(Int, Int, Int)],
      separateGlobals: Boolean = false,
      logStrips: Int = 0,
      refCorner: Int = 1,
      mmrCollective: Boolean = false,
      customTables: Boolean = false): (Array[Byte], Array[Byte]) = {
    require(w > 0 && h > 0 && symbols.nonEmpty, "need dimensions and symbols")
    require(logStrips >= 0 && logStrips <= 3, s"logStrips in [0,3]: $logStrips")
    require(refCorner == 0 || refCorner == 1, "BOTTOMLEFT(0) or TOPLEFT(1)")
    require(symbols.forall { case (sw, sh, px) =>
      sw > 0 && sh > 0 && px.length == sw * sh }, "malformed symbol bitmap")
    require(placements.forall(_._1 >= 0) &&
      placements.forall(_._1 < symbols.size), "placement symbol out of range")
    val bms = symbols.map { case (sw, sh, px) =>
      Bitmap(sw, sh, px.map(b => (if (b != 0) 1 else 0).toByte))
    }
    val ids = exportOrderHuff(bms)
    val sorted = bms.zipWithIndex.sortBy(p => ids(p._2)).map(_._1)
    val remapped = placements.map { case (s, x, y) => (ids(s), x, y) }

    // CUSTOM-table mode (r17): six type-53 table segments replace the
    // standard selections — DH/DW/BMSIZE on the dictionary (selector
    // 3 / B-flag 1, consumed in that order) and FS/DS/DT on the text
    // region. The dimensions here bound every emitted value: symbol
    // dims ≤ 16-ish heights/widths, BMSIZE < 2^16, deltas in [0, 16).
    require(!customTables || (w <= 4096 && h <= 4096 &&
      symbols.forall(s => s._1 < 16 && s._2 < 16)),
      "custom-table fixture mode bounds symbol dims to < 16")
    val custDh = if (customTables)
      Some(encodeTableSegment(0, 16, Seq((1, 4)), 2, 2)) else None
    val custDw = if (customTables)
      Some(encodeTableSegment(0, 16, Seq((2, 4)), 3, 3, oobPref = 1)) else None
    val custBm = if (customTables)
      Some(encodeTableSegment(0, 65536, Seq((1, 16)), 2, 2)) else None
    val custFs = if (customTables)
      Some(encodeTableSegment(0, 1 << widthOf(w), Seq((1, widthOf(w))), 2, 2))
      else None
    val custDs = if (customTables)
      Some(encodeTableSegment(0, 1 << widthOf(w), Seq((2, widthOf(w))), 3, 3,
        oobPref = 1)) else None
    val custDt = if (customTables)
      Some(encodeTableSegment(0, 1 << widthOf(h), Seq((1, widthOf(h))), 2, 2))
      else None

    val dictData = {
      val b = new ArrayBuffer[Byte]()
      // flags: SDHUFF=1, SDREFAGG=0, then either all-standard
      // selectors (DH=B.4, DW=B.2, BMSIZE=B.1) or all-custom
      // (DH=3, DW=3, BMSIZE flag 1); template 0, no AT bytes.
      val flags =
        if (customTables) 1 | (3 << 2) | (3 << 4) | (1 << 6) else 1
      b += ((flags >> 8) & 0xff).toByte; b += (flags & 0xff).toByte
      be32(b, sorted.size)                    // SDNUMEXSYMS
      be32(b, sorted.size)                    // SDNUMNEWSYMS
      b ++= encodeSymbolDictHuff(sorted, mmrCollective,
        custDh.map(_._2).orNull, custDw.map(_._2).orNull,
        custBm.map(_._2).orNull)
      b
    }
    val textData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0); be32(b, 0); b += 0  // region info
      // text flags: SBHUFF=1, rest as the arithmetic encoder
      val flags = 1 | ((logStrips & 3) << 2) | ((refCorner & 3) << 4)
      b += ((flags >> 8) & 0xff).toByte; b += (flags & 0xff).toByte
      // huffman flags: FS/DS/DT either the first standard tables
      // (B.6/B.8/B.11, selectors 0) or custom (selectors 3)
      val hf = if (customTables) 3 | (3 << 2) | (3 << 4) else 0
      b += ((hf >> 8) & 0xff).toByte; b += (hf & 0xff).toByte
      be32(b, remapped.size)                  // SBNUMINSTANCES
      b ++= encodeTextRegionDataHuff(sorted, remapped, logStrips, refCorner,
        custFs.map(_._2).orNull, custDs.map(_._2).orNull,
        custDt.map(_._2).orNull)
      b
    }
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      b += 0; b += 0; b += 0                  // page flags + striping
      b
    }
    if (!customTables) {
      val dictSeg = segment(0, 0, dictData)
      val rest = segment(1, 48, pageData) ++
        segment(2, 6, textData, refs = Seq(0L))
      if (separateGlobals) (rest.toArray, dictSeg.toArray)
      else ((dictSeg ++ rest).toArray, Array.empty[Byte])
    } else {
      // segments 0-2: the dictionary's tables; 3: the dictionary
      // (refs in DH, DW, BMSIZE order); 4: page info; 5-7: the text
      // region's tables; 8: the text region (refs: dict + FS/DS/DT)
      def tseg(num: Long, t: Option[(Array[Byte], HuffTable)]) = {
        val b = new ArrayBuffer[Byte]()
        b ++= t.get._1
        segment(num, 53, b)
      }
      val dictPart = tseg(0, custDh) ++ tseg(1, custDw) ++ tseg(2, custBm) ++
        segment(3, 0, dictData, refs = Seq(0L, 1L, 2L))
      val rest = segment(4, 48, pageData) ++
        tseg(5, custFs) ++ tseg(6, custDs) ++ tseg(7, custDt) ++
        segment(8, 6, textData, refs = Seq(3L, 5L, 6L, 7L))
      if (separateGlobals) (rest.toArray, dictPart.toArray)
      else ((dictPart ++ rest).toArray, Array.empty[Byte])
    }
  }

  /** Smallest RANGELEN that covers [0, v]. */
  private def widthOf(v: Int): Int = {
    var b = 1
    while ((1 << b) - 1 < v) b += 1
    b
  }

  // ---- embedded segment layer (§7.2): the PDF-stream subset.

  private def be32(b: ArrayBuffer[Byte], v: Long): Unit = {
    b += ((v >> 24) & 0xff).toByte; b += ((v >> 16) & 0xff).toByte
    b += ((v >> 8) & 0xff).toByte; b += (v & 0xff).toByte
  }
  private def rdBe32(d: Array[Byte], i: Int): Long =
    ((d(i) & 0xffL) << 24) | ((d(i + 1) & 0xffL) << 16) |
      ((d(i + 2) & 0xffL) << 8) | (d(i + 3) & 0xffL)

  /** Encode a bitmap (byte-per-pixel, nonzero = black) as an
    * embedded JBIG2 stream: page info (type 48) + immediate lossless
    * generic region (type 39), template 0, nominal ATs, optional
    * typical-prediction (TPGDON — what real scanner encoders emit:
    * blank and repeated scanlines cost one decision each). */
  def encode(pixels: Array[Byte], w: Int, h: Int,
      tpgdon: Boolean = false, mmr: Boolean = false,
      template: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && pixels.length == w * h,
      s"need $w x $h pixels, got ${pixels.length}")
    require(!(tpgdon && mmr), "TPGDON is an MQ-mode flag")
    require(template >= 0 && template <= 3, "GBTEMPLATE in [0,3]")
    require(!mmr || template == 0, "MMR carries no template")
    val bits = pixels.map(b => (if (b != 0) 1 else 0).toByte)
    val regionData = {
      val b = new ArrayBuffer[Byte]()
      // region segment info (§7.4.1): w, h, x, y, combination op
      be32(b, w); be32(b, h); be32(b, 0); be32(b, 0); b += 0
      if (mmr) {
        b += 1                                // generic flags: MMR (T.6 coding)
        b ++= CcittG4.encode(
          bits.map(v => (if (v == 1) 0 else 255).toByte), w, h)
      } else {
        // generic flags: MQ, GBTEMPLATE at bits 1-2, TPGDON at bit 3
        b += ((template << 1) | (if (tpgdon) 8 else 0)).toByte
        // AT pixels, nominal (signed bytes): 4 pairs for template 0,
        // one pair for 1-3 (A1 = (3,−1) for 1; (2,−1) for 2 and 3)
        template match {
          case 0 =>
            b += 3; b += -1; b += -3; b += -1
            b += 2; b += -2; b += -2; b += -2
          case 1 => b += 3; b += -1
          case _ => b += 2; b += -1
        }
        b ++= encodeGeneric(bits, w, h, tpgdon, template)
      }
      b
    }
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      b += 0                                  // page flags
      b += 0; b += 0                          // striping info
      b
    }
    (segment(0, 48, pageData) ++ segment(1, 39, regionData)).toArray
  }

  /** One segment: header (§7.2, short form — ≤ 4 referred segments,
    * 1-byte referred numbers, 1-byte page association) + data. */
  private def segment(num: Long, segType: Int, data: ArrayBuffer[Byte],
      refs: Seq[Long] = Seq.empty): ArrayBuffer[Byte] = {
    require(refs.size <= 4 && refs.forall(_ < 256), "short-form header only")
    val b = new ArrayBuffer[Byte]()
    be32(b, num)
    b += (segType & 0x3f).toByte              // flags: no deferred, 1-byte page assoc
    b += ((refs.size & 7) << 5).toByte        // referred-to count (high 3 bits)
    refs.foreach(r => b += (r & 0xff).toByte) // 1-byte refs (num ≤ 256)
    b += 1.toByte                             // page association 1
    be32(b, data.length)
    b ++= data
    b
  }

  /** Encode a TEXT page the way real scanner encoders do (T.88 §6.4 +
    * §6.5): a symbol DICTIONARY holding the distinct glyph bitmaps
    * and a text REGION placing them by (symbol, x, y) with TOPLEFT
    * reference corners — the shape that compresses a text scan 2-5×
    * beyond even generic-region coding, and the one [[decode]] was
    * previously payload-passthrough for (r15 "What's missing" #2).
    *
    * `symbols`: (w, h, byte-per-pixel bitmap, nonzero = black);
    * `placements`: (symbol index, x, y) top-left positions.
    * With `separateGlobals` the dictionary segment is returned as a
    * SECOND stream — the PDF `/JBIG2Globals` layout, where shared
    * dictionaries live in their own object referenced from
    * `/DecodeParms`; otherwise everything is one embedded stream.
    * Returns (embedded stream, globals stream — empty when inline).
    */
  def encodeText(
      w: Int, h: Int,
      symbols: Seq[(Int, Int, Array[Byte])],
      placements: Seq[(Int, Int, Int)],
      separateGlobals: Boolean = false,
      logStrips: Int = 0,
      refCorner: Int = 1,
      transposed: Boolean = false,
      combOp: Int = 0,
      defPixel: Int = 0): (Array[Byte], Array[Byte]) = {
    require(w > 0 && h > 0 && symbols.nonEmpty, "need dimensions and symbols")
    require(logStrips >= 0 && logStrips <= 3, s"logStrips in [0,3]: $logStrips")
    require(refCorner >= 0 && refCorner <= 3, "REFCORNER in [0,3]")
    require(combOp >= 0 && combOp <= 3, "SBCOMBOP: OR/AND/XOR/XNOR")
    require(defPixel == 0 || defPixel == 1, "SBDEFPIXEL is one bit")
    require(symbols.forall { case (sw, sh, px) =>
      sw > 0 && sh > 0 && px.length == sw * sh }, "malformed symbol bitmap")
    require(placements.forall(_._1 >= 0) &&
      placements.forall(_._1 < symbols.size), "placement symbol out of range")
    val bms = symbols.map { case (sw, sh, px) =>
      Bitmap(sw, sh, px.map(b => (if (b != 0) 1 else 0).toByte))
    }
    val ids = exportOrder(bms)                // dictionary export order
    val sorted = bms.zipWithIndex.sortBy(p => ids(p._2)).map(_._1)
    val remapped = placements.map { case (s, x, y) => (ids(s), x, y) }

    val dictData = {
      val b = new ArrayBuffer[Byte]()
      b += 0; b += 0                          // flags: SDHUFF=0, SDREFAGG=0, template 0
      // AT pixels, nominal (template 0)
      b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
      be32(b, sorted.size)                    // SDNUMEXSYMS
      be32(b, sorted.size)                    // SDNUMNEWSYMS
      b ++= encodeSymbolDict(sorted)
      b
    }
    val textData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0); be32(b, 0); b += 0  // region info
      // text flags: SBHUFF=0, SBREFINE=0, SBDSOFFSET=0, SBRTEMPLATE=0
      val flags = ((logStrips & 3) << 2) | ((refCorner & 3) << 4) |
        ((if (transposed) 1 else 0) << 6) | ((combOp & 3) << 7) |
        ((defPixel & 1) << 9)
      b += ((flags >> 8) & 0xff).toByte; b += (flags & 0xff).toByte
      be32(b, remapped.size)                  // SBNUMINSTANCES
      b ++= encodeTextRegionData(sorted, remapped, logStrips, refCorner,
        transposed)
      b
    }
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      b += 0; b += 0; b += 0                  // page flags + striping
      b
    }
    val dictSeg = segment(0, 0, dictData)
    val rest = segment(1, 48, pageData) ++
      segment(2, 6, textData, refs = Seq(0L)) // immediate text region → dict 0
    if (separateGlobals) (rest.toArray, dictSeg.toArray)
    else ((dictSeg ++ rest).toArray, Array.empty[Byte])
  }

  /** Encode a TEXT page whose glyph dictionary chain uses REFINEMENT
    * coding (T.88 §6.3 / §6.5.8.2) — the lossy-to-lossless path real
    * encoders emit: dictionary A holds the base glyphs
    * (arithmetic), dictionary B (SDREFAGG=1, SDRTEMPLATE=1) refines
    * them into variants, and the text region places symbols from
    * BOTH (ids index A-exports ++ B-exports). `refined` entries are
    * (w, h, px, baseIdx, dx, dy) — target bitmap, the base glyph it
    * refines, and the reference offset. With `separateGlobals` both
    * dictionaries travel in the `/JBIG2Globals` stream. */
  def encodeTextRefined(
      w: Int, h: Int,
      symbols: Seq[(Int, Int, Array[Byte])],
      refined: Seq[(Int, Int, Array[Byte], Int, Int, Int)],
      placements: Seq[(Int, Int, Int)],
      separateGlobals: Boolean = false,
      rtemplate: Int = 1): (Array[Byte], Array[Byte]) = {
    require(rtemplate == 0 || rtemplate == 1, "GRTEMPLATE is one bit")
    require(w > 0 && h > 0 && symbols.nonEmpty && refined.nonEmpty,
      "need dimensions, base symbols, and refined symbols")
    require(refined.forall { case (rw, rh, px, bi, _, _) =>
      rw > 0 && rh > 0 && px.length == rw * rh &&
        bi >= 0 && bi < symbols.size }, "malformed refined entry")
    val total = symbols.size + refined.size
    require(placements.forall(p => p._1 >= 0 && p._1 < total),
      "placement symbol out of range")
    val bms = symbols.map { case (sw, sh, px) =>
      Bitmap(sw, sh, px.map(b => (if (b != 0) 1 else 0).toByte))
    }
    val ids = exportOrder(bms)                // dict A export order
    val sortedA = bms.zipWithIndex.sortBy(p => ids(p._2)).map(_._1)
    val nA = sortedA.size
    // dict B wire order: height-ascending (stable)
    val refBms = refined.map { case (rw, rh, px, bi, dx, dy) =>
      (Bitmap(rw, rh, px.map(b => (if (b != 0) 1 else 0).toByte)),
        ids(bi), bms(bi), dx, dy)
    }
    val wireOrder = refBms.zipWithIndex.sortBy { case ((t, _, _, _, _), i) =>
      (t.h, i) }
    val wireEntries = wireOrder.map(_._1)
    val wirePos = new Array[Int](refined.size)
    for ((origIdx, pos) <- wireOrder.map(_._2).zipWithIndex)
      wirePos(origIdx) = pos
    val remapped = placements.map { case (s, x, y) =>
      (if (s < symbols.size) ids(s) else nA + wirePos(s - symbols.size), x, y)
    }
    val allSyms = sortedA ++ wireEntries.map(_._1)

    val dictAData = {
      val b = new ArrayBuffer[Byte]()
      b += 0; b += 0
      b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
      be32(b, nA); be32(b, nA)
      b ++= encodeSymbolDict(sortedA)
      b
    }
    val dictBData = {
      val b = new ArrayBuffer[Byte]()
      // flags: SDHUFF=0, SDREFAGG=1 (bit 1), template 0, SDRTEMPLATE
      // (bit 12) — refinement template 1 carries no refinement AT
      // bytes, template 0 carries the nominal (−1,−1)/(−1,−1) pair
      // after the GB ATs (which are present since SDHUFF=0)
      val flags = 2 | (rtemplate << 12)
      b += ((flags >> 8) & 0xff).toByte; b += (flags & 0xff).toByte
      b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
      if (rtemplate == 0) { b += -1; b += -1; b += -1; b += -1 }
      be32(b, wireEntries.size); be32(b, wireEntries.size)
      b ++= encodeSymbolDictRef(wireEntries, nA, rtemplate)
      b
    }
    val textData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0); be32(b, 0); b += 0
      b += 0; b += (1 << 4).toByte            // SBHUFF=0, TOPLEFT corner
      be32(b, remapped.size)
      b ++= encodeTextRegionData(allSyms, remapped, 0, 1)
      b
    }
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      b += 0; b += 0; b += 0
      b
    }
    val dicts = segment(0, 0, dictAData) ++ segment(1, 0, dictBData, refs = Seq(0L))
    val rest = segment(2, 48, pageData) ++
      segment(3, 6, textData, refs = Seq(0L, 1L))
    if (separateGlobals) (rest.toArray, dicts.toArray)
    else ((dicts ++ rest).toArray, Array.empty[Byte])
  }

  /** Encode a TEXT page whose region refines PER INSTANCE
    * (SBREFINE=1, §6.4.11 — r17): `variants(i)` replaces placement
    * i's glyph with a SAME-SIZE refinement target (RDW = RDH = 0)
    * coded against the glyph at reference offset (rdx, rdy); None
    * places the glyph unrefined (IARI = 0). TOPLEFT corners,
    * `rtemplate` picks the §6.3 template (0 carries the nominal GR
    * AT bytes). */
  def encodeTextInstRefined(
      w: Int, h: Int,
      symbols: Seq[(Int, Int, Array[Byte])],
      placements: Seq[(Int, Int, Int)],
      variants: Seq[Option[(Array[Byte], Int, Int)]],
      rtemplate: Int = 1,
      separateGlobals: Boolean = false): (Array[Byte], Array[Byte]) = {
    require(w > 0 && h > 0 && symbols.nonEmpty, "need dimensions and symbols")
    require(variants.size == placements.size, "one variant slot per placement")
    require(rtemplate == 0 || rtemplate == 1, "GRTEMPLATE is one bit")
    require(symbols.forall { case (sw, sh, px) =>
      sw > 0 && sh > 0 && px.length == sw * sh }, "malformed symbol bitmap")
    require(placements.forall(p => p._1 >= 0 && p._1 < symbols.size),
      "placement symbol out of range")
    placements.zip(variants).foreach { case ((si, _, _), v) =>
      v.foreach { case (px, _, _) =>
        require(px.length == symbols(si)._1 * symbols(si)._2,
          "variant must have the placed symbol's dims") }
    }
    val bms = symbols.map { case (sw, sh, px) =>
      Bitmap(sw, sh, px.map(b => (if (b != 0) 1 else 0).toByte))
    }
    val ids = exportOrder(bms)
    val sorted = bms.zipWithIndex.sortBy(p => ids(p._2)).map(_._1)
    val remapped = placements.map { case (s, x, y) => (ids(s), x, y) }
    val varBms = placements.zip(variants).map { case ((si, _, _), v) =>
      v.map { case (px, rdx, rdy) =>
        (Bitmap(symbols(si)._1, symbols(si)._2,
          px.map(b => (if (b != 0) 1 else 0).toByte)), rdx, rdy)
      }
    }
    val dictData = {
      val b = new ArrayBuffer[Byte]()
      b += 0; b += 0
      b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
      be32(b, sorted.size); be32(b, sorted.size)
      b ++= encodeSymbolDict(sorted)
      b
    }
    val textData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0); be32(b, 0); b += 0
      // SBHUFF=0, SBREFINE=1 (bit 1), TOPLEFT, SBRTEMPLATE at bit 15
      val flags = 2 | (1 << 4) | (rtemplate << 15)
      b += ((flags >> 8) & 0xff).toByte; b += (flags & 0xff).toByte
      if (rtemplate == 0) { b += -1; b += -1; b += -1; b += -1 }
      be32(b, remapped.size)
      val mq = new MqEncoder
      encodeTextRegionDataWith(mq, pooledIaContexts(), pooledGrContexts(),
        sorted, remapped, varBms, logStrips = 0, refCorner = 1,
        transposed = false, refine = true, rtemplate = rtemplate,
        symCodeLen = symCodeLenOf(sorted.size))
      b ++= mq.flush()
      b
    }
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      b += 0; b += 0; b += 0
      b
    }
    val dictSeg = segment(0, 0, dictData)
    val rest = segment(1, 48, pageData) ++
      segment(2, 6, textData, refs = Seq(0L))
    if (separateGlobals) (rest.toArray, dictSeg.toArray)
    else ((dictSeg ++ rest).toArray, Array.empty[Byte])
  }

  /** Encode a TEXT page whose glyph dictionary uses MULTI-AGGREGATE
    * refinement (REFAGGNINST > 1, §6.5.8.2.2 — r17): dictionary A
    * holds the base glyphs; each dictionary-B symbol is an
    * AGGREGATE — a text region of the symbol's own size whose
    * instances each place a refined base glyph. `aggregates`:
    * (aw, ah, instances) with instance = (base index, x, y, variant
    * bitmap of the base's dims). The page's text region places the
    * aggregates. */
  def encodeTextAggregate(
      w: Int, h: Int,
      symbols: Seq[(Int, Int, Array[Byte])],
      aggregates: Seq[(Int, Int, Seq[(Int, Int, Int, Array[Byte])])],
      placements: Seq[(Int, Int, Int)],
      rtemplate: Int = 1,
      separateGlobals: Boolean = false): (Array[Byte], Array[Byte]) = {
    require(w > 0 && h > 0 && symbols.nonEmpty && aggregates.nonEmpty,
      "need dimensions, base symbols, and aggregates")
    require(rtemplate == 0 || rtemplate == 1, "GRTEMPLATE is one bit")
    require(aggregates.forall { case (aw, ah, insts) =>
      aw > 0 && ah > 0 && insts.size >= 2 && insts.size <= 64 &&
        insts.forall { case (bi, _, _, px) =>
          bi >= 0 && bi < symbols.size &&
            px.length == symbols(bi)._1 * symbols(bi)._2 }
    }, "malformed aggregate")
    require(placements.forall(p => p._1 >= 0 && p._1 < aggregates.size),
      "placement aggregate out of range")
    val bms = symbols.map { case (sw, sh, px) =>
      Bitmap(sw, sh, px.map(b => (if (b != 0) 1 else 0).toByte))
    }
    val ids = exportOrder(bms)                // dict A export order
    val sortedA = bms.zipWithIndex.sortBy(p => ids(p._2)).map(_._1)
    val nA = sortedA.size
    // dict B wire order: height ascending, stable
    val aggOrder = aggregates.zipWithIndex.sortBy { case ((_, ah, _), i) =>
      (ah, i) }
    val wirePos = new Array[Int](aggregates.size)
    for ((origIdx, pos) <- aggOrder.map(_._2).zipWithIndex)
      wirePos(origIdx) = pos
    val remapped = placements.map { case (s, x, y) => (wirePos(s), x, y) }
    val symCodeLen = symCodeLenOf(nA + aggregates.size)

    val dictAData = {
      val b = new ArrayBuffer[Byte]()
      b += 0; b += 0
      b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
      be32(b, nA); be32(b, nA)
      b ++= encodeSymbolDict(sortedA)
      b
    }
    val dictBData = {
      val b = new ArrayBuffer[Byte]()
      val flags = 2 | (rtemplate << 12)       // SDHUFF=0, SDREFAGG=1
      b += ((flags >> 8) & 0xff).toByte; b += (flags & 0xff).toByte
      b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
      if (rtemplate == 0) { b += -1; b += -1; b += -1; b += -1 }
      be32(b, aggregates.size); be32(b, aggregates.size)
      val mq = new MqEncoder
      val ia = pooledIaContexts()
      val gr = pooledGrContexts()
      var prevH = 0
      for ((ah, group) <- aggOrder.map(_._1).groupBy(_._2).toSeq.sortBy(_._1)) {
        encodeInt(mq, ia, IADH, ah - prevH)
        prevH = ah
        var prevW = 0
        for ((aw, _, insts) <- group) {
          encodeInt(mq, ia, IADW, aw - prevW)
          prevW = aw
          encodeInt(mq, ia, IAAI, insts.size)
          val instPlacements = insts.map { case (bi, x, y, _) =>
            (ids(bi), x, y) }
          val instVariants = insts.map { case (bi, _, _, px) =>
            Some((Bitmap(symbols(bi)._1, symbols(bi)._2,
              px.map(v => (if (v != 0) 1 else 0).toByte)), 0, 0))
          }
          encodeTextRegionDataWith(mq, ia, gr, sortedA,
            instPlacements, instVariants, logStrips = 0, refCorner = 1,
            transposed = false, refine = true, rtemplate = rtemplate,
            symCodeLen = symCodeLen)
        }
        encodeInt(mq, ia, IADW, OOB)
      }
      encodeInt(mq, ia, IAEX, nA)             // flag-0 run: skip imports…
      encodeInt(mq, ia, IAEX, aggregates.size) // …export all aggregates
      b ++= mq.flush()
      b
    }
    val textData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0); be32(b, 0); b += 0
      b += 0; b += (1 << 4).toByte            // SBHUFF=0, TOPLEFT
      be32(b, remapped.size)
      // dims-only stand-ins: the encoder needs the aggregates' sizes
      // for CURS advances, never their pixels
      b ++= encodeTextRegionData(
        aggOrder.map(_._1).map { case (aw, ah, _) =>
          Bitmap(aw, ah, new Array[Byte](aw * ah)) },
        remapped, 0, 1)
      b
    }
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      b += 0; b += 0; b += 0
      b
    }
    val dicts = segment(0, 0, dictAData) ++
      segment(1, 0, dictBData, refs = Seq(0L))
    val rest = segment(2, 48, pageData) ++
      segment(3, 6, textData, refs = Seq(1L)) // places dict B exports only
    if (separateGlobals) (rest.toArray, dicts.toArray)
    else ((dicts ++ rest).toArray, Array.empty[Byte])
  }

  /** Encode a MULTI-REGION page: page info with real dimensions plus
    * one immediate generic region per entry, each placed at its
    * region-info (x, y) — the layout real encoders emit when a page
    * splits into blocks. `regions`: (x, y, w, h, byte-per-pixel
    * bitmap, nonzero = black); the decoder OR-composites them onto
    * the page. */
  def encodeRegions(
      pageW: Int, pageH: Int,
      regions: Seq[(Int, Int, Int, Int, Array[Byte])],
      ops: Seq[Int] = Seq.empty,
      pageDefPixel: Int = 0): Array[Byte] = {
    require(pageW > 0 && pageH > 0 && regions.nonEmpty, "need a page")
    require(ops.isEmpty || ops.size == regions.size,
      "one external op per region (or none for all-OR)")
    require(ops.forall(o => o >= 0 && o <= 4), "ops: OR/AND/XOR/XNOR/REPLACE")
    require(pageDefPixel == 0 || pageDefPixel == 1, "default pixel is one bit")
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, pageW); be32(b, pageH)
      be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      // page flags: default pixel at bit 2; the "combination operator
      // may be overridden" bit (6) set when any region op is non-OR
      val anyOp = ops.exists(_ != 0)
      b += (((pageDefPixel & 1) << 2) | (if (anyOp) 1 << 6 else 0)).toByte
      b += 0; b += 0                          // striping
      b
    }
    var segs = segment(0, 48, pageData)
    var num = 1L
    for (((x, y, w, h, px), idx) <- regions.zipWithIndex) {
      require(w > 0 && h > 0 && px.length == w * h, s"region $num malformed")
      require(x >= 0 && y >= 0, s"region $num offset negative")
      val bits = px.map(b => (if (b != 0) 1 else 0).toByte)
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, x); be32(b, y)
      b += (ops.lift(idx).getOrElse(0) & 7).toByte  // external comb op
      b += 0                                  // generic flags: MQ, template 0
      b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
      b ++= encodeGeneric(bits, w, h, tpgdon = false)
      segs = segs ++ segment(num, 38, b)      // immediate generic region
      num += 1
    }
    segs.toArray
  }

  /** Encode a page whose content arrives in TWO passes (§7.4.7 —
    * r17): the base bitmap as a generic region, then a REFINEMENT
    * REGION (type 40) that REPLACES the (x, y, bw, bh) box with
    * `target`, coded against the composed page beneath it —
    * the progressive/lossy-to-lossless layout. `template` picks the
    * §6.3 context (0 carries nominal AT bytes); `tpgron` turns on
    * typical prediction (rows whose uniform-reference pixels already
    * match cost one decision). */
  def encodeWithRefinementRegion(
      pixels: Array[Byte], w: Int, h: Int,
      x: Int, y: Int, bw: Int, bh: Int, target: Array[Byte],
      template: Int = 1, tpgron: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && pixels.length == w * h, "malformed page")
    require(bw > 0 && bh > 0 && target.length == bw * bh, "malformed box")
    require(x >= 0 && y >= 0 && x + bw <= w && y + bh <= h, "box outside page")
    require(template == 0 || template == 1, "GRTEMPLATE is one bit")
    val bits = pixels.map(b => (if (b != 0) 1 else 0).toByte)
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      b += 0; b += 0; b += 0
      b
    }
    val baseData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, h); be32(b, 0); be32(b, 0); b += 0
      b += 0
      b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
      b ++= encodeGeneric(bits, w, h, tpgdon = false)
      b
    }
    val refData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, bw); be32(b, bh); be32(b, x); be32(b, y)
      b += 4                                  // external op: REPLACE
      b += ((template & 1) | (if (tpgron) 2 else 0)).toByte
      if (template == 0) { b += -1; b += -1; b += -1; b += -1 }
      val ref = new Array[Byte](bw * bh)
      var yy = 0
      while (yy < bh) {
        System.arraycopy(bits, (y + yy) * w + x, ref, yy * bw, bw)
        yy += 1
      }
      val mq = new MqEncoder
      encodeRefinementWith(mq, pooledGrContexts(),
        Bitmap(bw, bh, target.map(v => (if (v != 0) 1 else 0).toByte)),
        Bitmap(bw, bh, ref), 0, 0, template, tpgron)
      b ++= mq.flush()
      b
    }
    (segment(0, 48, pageData) ++ segment(1, 38, baseData) ++
      segment(2, 40, refData)).toArray
  }

  /** Encode a bitmap as a STRIPED page (§7.4.8.5): page info with
    * width but UNKNOWN height (0xFFFFFFFF, striped bit + max stripe
    * size set), one immediate generic region per `stripeH`-row
    * stripe at its y offset, each followed by an end-of-stripe
    * segment (type 50) carrying the stripe's last row — the layout
    * real scanner encoders emit when the page height isn't known up
    * front. Decodes identically to [[encode]] of the same pixels. */
  def encodeStriped(pixels: Array[Byte], w: Int, h: Int,
      stripeH: Int): Array[Byte] = {
    require(w > 0 && h > 0 && pixels.length == w * h,
      s"need $w x $h pixels, got ${pixels.length}")
    require(stripeH > 0 && stripeH <= 0x7fff, s"stripe height: $stripeH")
    val pageData = {
      val b = new ArrayBuffer[Byte]()
      be32(b, w); be32(b, 0xffffffffL)
      be32(b, 0xffffffffL); be32(b, 0xffffffffL)
      b += 0                                  // page flags
      val striping = 0x8000 | stripeH
      b += ((striping >> 8) & 0xff).toByte; b += (striping & 0xff).toByte
      b
    }
    var segs = segment(0, 48, pageData)
    var num = 1L
    var y0 = 0
    while (y0 < h) {
      val sh = math.min(stripeH, h - y0)
      val bits = new Array[Byte](w * sh)
      var any = false
      var i = 0
      while (i < bits.length) {
        if (pixels(y0 * w + i) != 0) { bits(i) = 1; any = true }
        i += 1
      }
      // an all-white stripe carries NO region — just its end-of-stripe
      // marker (what a real encoder does; the marker alone pins the
      // page height past blank trailing stripes)
      if (any) {
        val b = new ArrayBuffer[Byte]()
        be32(b, w); be32(b, sh); be32(b, 0); be32(b, y0); b += 0
        b += 0                                // generic flags: MQ, template 0
        b += 3; b += -1; b += -3; b += -1; b += 2; b += -2; b += -2; b += -2
        b ++= encodeGeneric(bits, w, sh, tpgdon = false)
        segs = segs ++ segment(num, 38, b)
        num += 1
      }
      val eos = new ArrayBuffer[Byte]()
      be32(eos, y0 + sh - 1)                  // last row of this stripe
      segs = segs ++ segment(num, 50, eos)
      num += 1
      y0 += sh
    }
    segs.toArray
  }

  /** Decode an embedded JBIG2 stream to (width, height,
    * byte-per-pixel 1=black) — the PAGE when page info carries real
    * dimensions (all regions OR-composited at their offsets), else
    * the first decodable region:
    *
    *  - **generic regions** (36/38/39) — MQ-coded (plain or TPGDON)
    *    or MMR (T.6 via [[CcittG4]]);
    *  - **text regions** (4/6/7) with their referred **symbol
    *    dictionaries** (type 0, arithmetic subset), including
    *    dictionaries supplied via a `/JBIG2Globals` stream
    *    (`globals`) — the shape real scanner encoders (Acrobat,
    *    Xerox) emit for TEXT pages, previously payload-passthrough.
    *
    * None on refinement segments, huffman-coded dictionaries,
    * non-nominal templates, unknown lengths, or any malformed
    * header — skip-not-misparse. */
  def decode(data: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decode(data, Array.empty[Byte])

  def decode(data: Array[Byte],
      globals: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (data == null || data.length < 11) return None
    val dicts = scala.collection.mutable.Map.empty[Long, IndexedSeq[Bitmap]]
    val tables = scala.collection.mutable.Map.empty[Long, HuffTable]
    if (globals != null && globals.length >= 11) walk(globals, dicts, tables)
    walk(data, dicts, tables)
  }

  /** One segment-stream pass: symbol dictionaries accumulate into
    * `dicts` (keyed by segment number — the `/JBIG2Globals` contract:
    * globals walk first, the embedded stream's regions refer back).
    * With PAGE INFO (type 48) carrying real dimensions, every region
    * OR-composites onto the page bitmap at its region-info (x, y)
    * offset — the multi-region layout real encoders emit (one text
    * region per text block, generic regions for halftones) — and the
    * composed page returns after the walk. The 0xFFFFFFFF
    * striped-height form (striped bit set) accumulates regions and
    * end-of-stripe rows and finalizes the height at walk end (r17);
    * with NO page info at all the first decodable region returns
    * alone, the pre-r16 behavior. */
  private def walk(
      data: Array[Byte],
      dicts: scala.collection.mutable.Map[Long, IndexedSeq[Bitmap]],
      tables: scala.collection.mutable.Map[Long, HuffTable])
      : Option[(Int, Int, Array[Byte])] = {
    var page: Option[(Int, Int, Array[Byte])] = None
    var composed = false
    var poisoned = false                      // hostile offsets: decline the STREAM
    // STRIPED page mode (§7.4.8.5): page info carries real width but
    // UNKNOWN height (0xFFFFFFFF) with the striped bit set — regions
    // accumulate with their offsets, end-of-stripe segments (type 50)
    // pin stripe boundaries, and the final height is the max of both
    // when the walk completes.
    var stripedW = -1
    var stripedDef = 0
    var stripedPx = 0L
    var stripedBottom = 0L
    val stripedRegions =
      new ArrayBuffer[(Int, Int, Array[Byte], Int, Int, Int)]() // (w,h,px,x,y,op)
    /** One pixel under the EXTERNAL combination operator (§7.4.8.5
      * region-info bits 0-2): OR/AND/XOR/XNOR/REPLACE — previously
      * the byte was ignored and everything OR-composed (r17). */
    def extCompose(d: Int, s: Int, op: Int): Byte = (op match {
      case 0 => d | s
      case 1 => d & s
      case 2 => d ^ s
      case 3 => 1 - (d ^ s)
      case _ => s                              // REPLACE
    }).toByte
    /** Compose a decoded region into the page at (rx, ry) under
      * `extOp`, clipped; when no page exists the region IS the
      * result. None = keep walking. A page WITH a region whose offset
      * is out of sane range poisons the whole stream (review finding:
      * falling through to "return this lone region" would silently
      * discard the composed page). */
    def finish(rw: Int, rh: Int, rpx: Array[Byte],
        rx: Long, ry: Long, extOp: Int): Option[(Int, Int, Array[Byte])] =
      page match {
        case Some((pw, ph, ppx)) =>
          if (rx > (1L << 20) || ry > (1L << 20)) { poisoned = true; None }
          else {
            var yy = 0
            while (yy < rh) {
              val py = ry.toInt + yy
              if (py < ph) {
                var xx = 0
                while (xx < rw) {
                  val pxx = rx.toInt + xx
                  if (pxx < pw)
                    ppx(py * pw + pxx) = extCompose(
                      ppx(py * pw + pxx) & 1, rpx(yy * rw + xx) & 1, extOp)
                  xx += 1
                }
              }
              yy += 1
            }
            composed = true
            None
          }
        case None if stripedW > 0 =>
          if (rx > (1L << 20) || ry > (1L << 20)) { poisoned = true; None }
          else {
            stripedPx += rw.toLong * rh
            if (stripedPx > (1L << 26)) { poisoned = true; None }
            else {
              stripedRegions += ((rw, rh, rpx, rx.toInt, ry.toInt, extOp))
              stripedBottom = math.max(stripedBottom, ry + rh)
              None
            }
          }
        case None => Some((rw, rh, rpx))
      }
    var i = 0
    var guard = 0
    // i strictly advances ≥ 11 bytes per segment, so the loop always
    // terminates; the guard is a hard backstop, and EXHAUSTING it
    // must decline rather than return a partially-composed page
    // (review finding: silent truncation is wrong pixels, not a skip)
    while (i + 11 <= data.length && guard < (1 << 16)) {
      guard += 1
      if (poisoned) return None
      // segment header
      val flags = data(i + 4) & 0xff
      val segType = flags & 0x3f
      val pageAssoc4 = (flags & 0x40) != 0
      val refFlags = data(i + 5) & 0xff
      val refCount = (refFlags >> 5) & 7
      if (refCount > 4) return None           // long form: out of subset
      val segNum = rdBe32(data, i)
      val refSize = if (segNum <= 256) 1 else if (segNum <= 65536) 2 else 4
      if (i + 6 + refCount * refSize > data.length) return None
      val refs = new Array[Long](refCount)
      var k = 0
      while (k < refCount) {
        val o = i + 6 + k * refSize
        refs(k) = refSize match {
          case 1 => data(o) & 0xffL
          case 2 => ((data(o) & 0xffL) << 8) | (data(o + 1) & 0xffL)
          case _ => rdBe32(data, o)
        }
        k += 1
      }
      var j = i + 6 + refCount * refSize
      j += (if (pageAssoc4) 4 else 1)
      if (j + 4 > data.length) return None
      val dataLen = rdBe32(data, j)
      j += 4
      if (dataLen == 0xffffffffL || j + dataLen > data.length) return None
      val segEnd = (j + dataLen).toInt

      if (segType == 0) {
        // symbol dictionary (§7.4.3): flags(2) + AT(8, template 0) +
        // SDNUMEXSYMS(4) + SDNUMNEWSYMS(4). Out-of-subset or failed
        // dictionaries are SKIPPED (not stored): a region referring
        // to them then fails cleanly instead of the whole stream
        // being rejected up front.
        if (dataLen >= 10) {
          val sdFlags = ((data(j) & 0xff) << 8) | (data(j + 1) & 0xff)
          val sdHuff = (sdFlags & 1) != 0
          val sdRefAgg = (sdFlags & 2) != 0
          val huffDH = (sdFlags >> 2) & 3
          val huffDW = (sdFlags >> 4) & 3
          val huffBm = (sdFlags >> 6) & 1
          val huffAgg = (sdFlags >> 7) & 1
          val template = (sdFlags >> 10) & 3
          if (sdHuff) {
            // Huffman mode (§7.4.3.1.1): NO AT bytes; selectors name
            // either a transcribed standard table (DH 0/1 → B.4/B.5,
            // DW 0/1 → B.2/B.3, BMSIZE 0 → B.1) or — selector 3 /
            // B-flag 1 — a CUSTOM table carried by a referred type-53
            // segment (r17), consumed in DH, DW, BMSIZE order per
            // §7.4.3.1.6. Unresolvable selectors skip the dictionary
            // and dependent regions fail clean.
            if (!sdRefAgg && huffAgg == 0) {
              val custom = refs.toSeq.flatMap(tables.get)
              var cursor = 0
              def nextCustom(): Option[HuffTable] = {
                val t = custom.lift(cursor); cursor += 1; t
              }
              val dhTab = huffDH match {
                case 0 | 1 => Some(StdTables(4 + huffDH))
                case 3 => nextCustom()
                case _ => None
              }
              val dwTab = huffDW match {
                case 0 | 1 => Some(StdTables(2 + huffDW))
                case 3 => nextCustom()
                case _ => None
              }
              val bmTab =
                if (huffBm == 0) Some(StdTables(1)) else nextCustom()
              val numEx = rdBe32(data, j + 2)
              val numNew = rdBe32(data, j + 6)
              if (numEx <= 8192 && numNew <= 4096 &&
                  dhTab.isDefined && dwTab.isDefined && bmTab.isDefined) {
                val input = refs.toSeq.flatMap(dicts.get).flatten.toIndexedSeq
                decodeSymbolDictHuff(data, j + 10, segEnd,
                  numNew.toInt, numEx.toInt, input,
                  dhTab.get, dwTab.get, bmTab.get)
                  .foreach(ex => dicts(segNum) = ex)
              }
            }
          } else if (dataLen >= 18) {
            val at = data.slice(j + 2, j + 10)
            val nominal = at.length == 8 &&
              at(0) == 3 && at(1) == -1 && at(2) == -3 && at(3) == -1 &&
              at(4) == 2 && at(5) == -2 && at(6) == -2 && at(7) == -2
            // SDREFAGG=1 decodes under BOTH refinement templates:
            // SDRTEMPLATE=1 carries no refinement ATs; SDRTEMPLATE=0
            // (r17) carries 4 GR AT bytes after the GB ATs, admitted
            // in their NOMINAL (−1,−1)/(−1,−1) shape only
            val rtemplate = (sdFlags >> 12) & 1
            val grAts = sdRefAgg && rtemplate == 0
            val grNominal = !grAts || (dataLen >= 22 &&
              data(j + 10) == -1 && data(j + 11) == -1 &&
              data(j + 12) == -1 && data(j + 13) == -1)
            if (template == 0 && nominal && grNominal) {
              val base = if (grAts) j + 14 else j + 10
              val numEx = rdBe32(data, base)
              val numNew = rdBe32(data, base + 4)
              if (numEx <= 8192 && numNew <= 4096) {
                val input = refs.toSeq.flatMap(dicts.get).flatten.toIndexedSeq
                decodeSymbolDict(data, base + 8, segEnd,
                  numNew.toInt, numEx.toInt, input, refAgg = sdRefAgg,
                  rtemplate = rtemplate)
                  .foreach(ex => dicts(segNum) = ex)
              }
            }
          }
        }
      } else if (segType == 4 || segType == 6 || segType == 7) {
        // text region (§7.4.4): region info(17) + flags(2) +
        // SBNUMINSTANCES(4); refinement (SBREFINE=1) stays out of
        // subset — all four corners, transposed placement, the four
        // SBCOMBOPs, and SBDEFPIXEL decode (r17)
        if (dataLen < 23) return None
        val w = rdBe32(data, j).toInt
        val h = rdBe32(data, j + 4).toInt
        if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
        val tf = ((data(j + 17) & 0xff) << 8) | (data(j + 18) & 0xff)
        val sbHuff = (tf & 1) != 0
        val sbRefine = (tf & 2) != 0
        val logStrips = (tf >> 2) & 3
        val refCorner = (tf >> 4) & 3
        val transposed = (tf & 0x40) != 0
        val combOp = (tf >> 7) & 3
        val defPixel = (tf >> 9) & 1
        var dsOffset = (tf >> 10) & 0x1f
        if (dsOffset > 15) dsOffset -= 32     // signed 5-bit
        val sbRtemplate = (tf >> 15) & 1
        // refined text regions (SBREFINE=1, §6.4.11) decode on the
        // arithmetic path (r17); the Huffman+refine combination
        // stays out of subset (its RDW/RDH/RDX/RDY table selectors
        // are untranscribed)
        if (sbRefine && sbHuff) return None
        val decoded: Option[Array[Byte]] =
          if (sbHuff) {
            // Huffman flags (§7.4.4.1.2, present only when SBHUFF=1):
            // selector 0 is the first transcribed standard table
            // (FS=B.6, DS=B.8, DT=B.11), selector 3 a CUSTOM table
            // from the referred type-53 segments consumed in FS, DS,
            // DT order (r17); the untranscribed B.7/B.9/B.10/B.12/
            // B.13 alternates (selectors 1/2) decline
            if (dataLen < 25) return None
            val hf = ((data(j + 19) & 0xff) << 8) | (data(j + 20) & 0xff)
            val selFs = hf & 3
            val selDs = (hf >> 2) & 3
            val selDt = (hf >> 4) & 3
            val custom = refs.toSeq.flatMap(tables.get)
            var cursor = 0
            def nextCustom(): Option[HuffTable] = {
              val t = custom.lift(cursor); cursor += 1; t
            }
            def sel(s: Int, std: Int): Option[HuffTable] = s match {
              case 0 => Some(StdTables(std))
              case 3 => nextCustom()
              case _ => None
            }
            val fsTab = sel(selFs, 6)
            val dsTab = sel(selDs, 8)
            val dtTab = sel(selDt, 11)
            if (fsTab.isEmpty || dsTab.isEmpty || dtTab.isEmpty) return None
            val numInstances = rdBe32(data, j + 21)
            if (numInstances > (1L << 20)) return None
            val syms = refs.toSeq.flatMap(dicts.get).flatten.toIndexedSeq
            decodeTextRegionHuff(data, j + 25, segEnd, w, h,
              numInstances.toInt, logStrips, refCorner, dsOffset, syms,
              fsTab.get, dsTab.get, dtTab.get,
              transposed, combOp, defPixel)
          } else {
            // refinement AT bytes (4, nominal only) sit between the
            // flags and SBNUMINSTANCES when SBREFINE=1 and
            // SBRTEMPLATE=0 (§7.4.4.1.4)
            val grAts = sbRefine && sbRtemplate == 0
            if (grAts && (dataLen < 27 ||
                data(j + 19) != -1 || data(j + 20) != -1 ||
                data(j + 21) != -1 || data(j + 22) != -1)) return None
            val base = if (grAts) j + 23 else j + 19
            val numInstances = rdBe32(data, base)
            if (numInstances > (1L << 20)) return None
            val syms = refs.toSeq.flatMap(dicts.get).flatten.toIndexedSeq
            decodeTextRegion(data, base + 4, segEnd, w, h,
              numInstances.toInt, logStrips, refCorner, dsOffset, syms,
              transposed, combOp, defPixel,
              refine = sbRefine, rtemplate = sbRtemplate)
          }
        val extOp = data(j + 16) & 7
        if (extOp > 4) return None            // reserved values
        decoded match {
          case None => return None
          case Some(rpx) =>
            finish(w, h, rpx, rdBe32(data, j + 8), rdBe32(data, j + 12), extOp)
              .foreach(r => return Some(r))
        }
      } else if (segType == 48) {
        // page info (§7.4.8): width, height; the striped/unknown
        // height form (height 0xFFFFFFFF + striped bit) switches to
        // stripe accumulation — real scanner output at large page
        // sizes (the encoder cannot know the height up front)
        if (dataLen >= 8) {
          val pw = rdBe32(data, j)
          val ph = rdBe32(data, j + 4)
          // page default pixel (§7.4.8.5 flags bit 2): AND/XNOR
          // region composition needs the real initial page value
          val pDef =
            if (dataLen >= 17) (data(j + 16) >> 2) & 1 else 0
          // Bound each dimension BEFORE multiplying: pw/ph are
          // untrusted unsigned 32-bit values, so pw * ph can wrap a
          // Long negative (~2^31.5 each) and sneak past a
          // product-only cap (r16 ADVICE)
          if (pw > 0 && ph > 0 && pw <= (1L << 20) && ph <= (1L << 20) &&
              pw * ph <= (1L << 26)) {
            val ppx = new Array[Byte]((pw * ph).toInt)
            if (pDef == 1) java.util.Arrays.fill(ppx, 1.toByte)
            page = Some((pw.toInt, ph.toInt, ppx))
          }
          else if (pw > 0 && pw <= (1L << 20) && ph == 0xffffffffL &&
              dataLen >= 19 &&
              (((data(j + 17) & 0xff) << 8) | (data(j + 18) & 0xff)) >= 0x8000) {
            stripedW = pw.toInt
            stripedDef = pDef
          }
        }
      } else if (segType == 53) {
        // custom Huffman table (§7.4.13): parsed and stored by
        // segment number; dictionaries and text regions whose
        // selectors say 3 consume referred tables in order (r17).
        // Malformed tables are skipped, never misparsed — dependent
        // selectors then fail to resolve and their segment declines.
        decodeTableSegment(data, j, segEnd).foreach(t => tables(segNum) = t)
      } else if (segType == 50) {
        // end of stripe (§7.4.9): 4-byte row number of the stripe's
        // LAST row — pins the final page height even when the last
        // stripe's regions end short
        if (dataLen >= 4 && stripedW > 0) {
          val endRow = rdBe32(data, j)
          if (endRow > (1L << 20)) return None
          stripedBottom = math.max(stripedBottom, endRow + 1)
        }
      } else if (segType == 40 || segType == 41 || segType == 42) {
        // refinement region (§7.4.7 — r17): refines the PAGE area
        // under its region box (reference = the composed page so
        // far), GRTEMPLATE 0/1 with nominal ATs, TPGRON honored.
        // Previously these segments were SKIPPED — a page missing
        // its refinement pass is wrong pixels, not a decline. Out of
        // subset (referred intermediate regions, non-nominal ATs, a
        // box outside the page, no page at all) declines the stream.
        if (dataLen < 18) return None
        val w = rdBe32(data, j).toInt
        val h = rdBe32(data, j + 4).toInt
        if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
        val rx = rdBe32(data, j + 8)
        val ry = rdBe32(data, j + 12)
        val extOp = data(j + 16) & 7
        if (extOp > 4) return None
        val gflags = data(j + 17) & 0xff
        val template = gflags & 1
        val tpgron = (gflags & 2) != 0
        if (refCount > 0) return None         // intermediate refs: out of subset
        val base =
          if (template == 0) {
            if (dataLen < 22 ||
              data(j + 18) != -1 || data(j + 19) != -1 ||
              data(j + 20) != -1 || data(j + 21) != -1) return None
            j + 22
          } else j + 18
        page match {
          case Some((pw, ph, ppx))
              if rx + w <= pw && ry + h <= ph && rx >= 0 && ry >= 0 =>
            val ref = new Array[Byte](w * h)
            var yy = 0
            while (yy < h) {
              System.arraycopy(ppx, (ry.toInt + yy) * pw + rx.toInt,
                ref, yy * w, w)
              yy += 1
            }
            val mq = new MqDecoder(data, base, segEnd)
            val gr = pooledGrContexts()
            val decoded = decodeRefinementWith(mq, gr, w, h,
              Bitmap(w, h, ref), 0, 0, template, tpgron)
            finish(w, h, decoded, rx, ry, extOp)
              .foreach(r => return Some(r))
          case _ => return None
        }
      } else if (segType == 36 || segType == 38 || segType == 39) {
        // region info (17) + generic flags (1); MQ regions carry 8
        // template-0 AT bytes after the flags, MMR regions none —
        // everything read must sit INSIDE the declared length
        if (dataLen < 18) return None
        val w = rdBe32(data, j).toInt
        val h = rdBe32(data, j + 4).toInt
        if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
        val extOp = data(j + 16) & 7
        if (extOp > 4) return None            // reserved values
        val gflags = data(j + 17) & 0xff
        val mmr = (gflags & 1) != 0
        val template = (gflags >> 1) & 3
        val tpgdon = (gflags & 8) != 0
        if (mmr) {
          // MMR generic region = CCITT T.6 over the region bitmap
          // (T.88 §6.2.6) — the G4 codec this library already has;
          // its luma output maps back to the 1=black convention
          CcittG4.decode(data.slice(j + 18, segEnd), w, h) match {
            case None => return None
            case Some(luma) =>
              val rpx = luma.map(b => (if ((b & 0xff) == 0) 1 else 0).toByte)
              finish(w, h, rpx, rdBe32(data, j + 8), rdBe32(data, j + 12), extOp)
                .foreach(r => return Some(r))
          }
        } else {
          // GBTEMPLATE 0-3 (r17: 1-3 were declines), nominal ATs
          // only: 4 pairs for template 0, one pair for the rest
          val atLen = if (template == 0) 8 else 2
          if (dataLen < 18 + atLen + 0) return None
          if (j + 18 + atLen > segEnd) return None
          val at = data.slice(j + 18, j + 18 + atLen)
          val nominal = template match {
            case 0 => at.length == 8 &&
              at(0) == 3 && at(1) == -1 && at(2) == -3 && at(3) == -1 &&
              at(4) == 2 && at(5) == -2 && at(6) == -2 && at(7) == -2
            case 1 => at.length == 2 && at(0) == 3 && at(1) == -1
            case _ => at.length == 2 && at(0) == 2 && at(1) == -1
          }
          if (!nominal) return None
          val px = decodeGeneric(data, j + 18 + atLen, segEnd, w, h,
            tpgdon, template)
          finish(w, h, px, rdBe32(data, j + 8), rdBe32(data, j + 12), extOp)
            .foreach(r => return Some(r))
        }
      }
      i = segEnd
    }
    if (poisoned || guard >= (1 << 16)) None
    else if (composed) page
    else if (stripedW > 0 && stripedBottom > 0) {
      // finalize the striped page: height = max stripe end / region
      // bottom, bounded like a fixed page
      val ph = stripedBottom
      if (ph <= 0 || ph > (1L << 20) || stripedW.toLong * ph > (1L << 26)) None
      else {
        val pw = stripedW
        val ppx = new Array[Byte]((pw * ph).toInt)
        if (stripedDef == 1) java.util.Arrays.fill(ppx, 1.toByte)
        for ((rw, rh, rpx, rx, ry, op) <- stripedRegions) {
          var yy = 0
          while (yy < rh) {
            val py = ry + yy
            if (py < ph) {
              var xx = 0
              while (xx < rw) {
                val pxx = rx + xx
                if (pxx < pw)
                  ppx(py * pw + pxx) = extCompose(
                    ppx(py * pw + pxx) & 1, rpx(yy * rw + xx) & 1, op)
                xx += 1
              }
            }
            yy += 1
          }
        }
        Some((pw, ph.toInt, ppx))
      }
    }
    else None
  }

  /** [[decode]] to luma bytes (0 black, 255 white) — the
    * [[PdfImages]] convention. */
  def decodeLuma(data: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decodeLuma(data, Array.empty[Byte])

  def decodeLuma(data: Array[Byte],
      globals: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decode(data, globals).map { case (w, h, px) =>
      (w, h, px.map(b => (if ((b & 1) == 1) 0 else 255).toByte))
    }
}
