package graft.multimodal

import scala.collection.mutable

/** JPEG pixel decode from first principles (ITU-T T.81): marker parse
  * (DQT/DHT/SOF/SOS/DRI), canonical Huffman entropy decode with DC
  * prediction + restart markers, dequantize + de-zigzag, 8×8 inverse DCT,
  * chroma upsampling for subsampled scans, and JFIF YCbCr→RGB. Closes the
  * one pixel-format gap [[PixelDecode]] had left ("JPEG needs a DCT
  * codec") with pure JVM arithmetic — no codec library.
  *
  * Scope: baseline/extended sequential (SOF0/SOF1), progressive (SOF2,
  * T.81 annex G — spectral selection, successive approximation with EOB
  * runs, coefficients accumulated across scans and reconstructed once at
  * EOI), AND arithmetic-coded sequential (SOF9, annexes D/F: the
  * [[QmCoder]] QM coder under the F.2.4 DC/AC statistical models, with
  * DAC conditioning and restart resets). 8-bit everywhere plus 12-bit
  * for the extended/progressive/arithmetic frames (T.81 table B.2;
  * output keeps full 0..4095 precision like the 16-bit PNG path, level
  * shift and clamp scale with the frame precision, DQT accepts 16-bit
  * entries); 1 or 3 components, any sampling factors (4:4:4, 4:2:0,
  * 4:2:2, …). Arithmetic progressive (SOF10) and hierarchical modes
  * return None — the quarantine contract of the decode stage.
  */
object JpegDecode {

  // zigzag order (the canonical 8x8 anti-diagonal scan) — computed, not
  // typed, so a transcription slip cannot corrupt the coefficient layout
  private val zz: Array[Int] = {
    val out = new Array[Int](64)
    var i = 0
    for (s <- 0 until 15; // anti-diagonals
         r <- 0 to math.min(s, 7)
         if s - r <= 7) {
      val (row, col) = if (s % 2 == 0) (s - r, r) else (r, s - r)
      out(i) = row * 8 + col
      i += 1
    }
    out
  }

  /** Canonical Huffman table: (length, code) → symbol. */
  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    val map: mutable.HashMap[(Int, Int), Int] = {
      val m = new mutable.HashMap[(Int, Int), Int]()
      var code = 0
      var k = 0
      for (len <- 1 to 16) {
        var n = 0
        while (n < counts(len - 1)) {
          m.put((len, code), symbols(k)); k += 1; code += 1; n += 1
        }
        code <<= 1
      }
      m
    }
  }

  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    var sawMarker = false

    /** next entropy bit; byte-stuffed FF00 → FF; a real marker ends data */
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) throw Truncated
        val v = b(pos) & 0xff; pos += 1
        if (v == 0xff) {
          if (pos >= b.length) throw Truncated
          val m = b(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed
          else { sawMarker = true; throw Truncated } // scan over-read
        }
        cur = v; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }

    def bits(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }

    def decode(h: Huff): Int = {
      var code = 0
      var len = 0
      while (len < 16) {
        code = (code << 1) | bit(); len += 1
        h.map.get((len, code)) match {
          case Some(s) => return s
          case None =>
        }
      }
      throw Truncated // invalid code
    }

    /** drop to a byte boundary and consume an expected RST marker */
    def restart(): Unit = {
      nbits = 0
      if (pos + 1 >= b.length) throw Truncated
      if ((b(pos) & 0xff) != 0xff) throw Truncated
      val m = b(pos + 1) & 0xff
      if (m < 0xd0 || m > 0xd7) throw Truncated
      pos += 2
    }
  }

  private object Truncated extends RuntimeException { override def fillInStackTrace(): Throwable = this }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** 8×8 inverse DCT, direct double-precision definition (T.81 A.3.3). A
    * separable fast variant matters for throughput; the direct form is the
    * unambiguous reference and plenty for metadata/stats extraction.
    */
  private def idct(block: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var sum = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            val cu = if (u == 0) 0.70710678118654752 else 1.0
            val cv = if (v == 0) 0.70710678118654752 else 1.0
            sum += cu * cv * block(v * 8 + u) *
              math.cos((2 * x + 1) * u * math.Pi / 16) *
              math.cos((2 * y + 1) * v * math.Pi / 16)
            u += 1
          }
          v += 1
        }
        out(y * 8 + x) = sum / 4.0
        x += 1
      }
      y += 1
    }
    out
  }

  private def clamp(v: Double, max: Int): Int =
    math.max(0, math.min(max, math.round(v).toInt))

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var td = 0; var ta = 0; var pred = 0
  }

  def decode(b: Array[Byte]): Option[PixelDecode.Image] = {
    try decodeImpl(b)
    catch { case _: Exception => None }
  }

  private def u8(b: Array[Byte], i: Int) = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int) = (u8(b, i) << 8) | u8(b, i + 1)

  private def decodeImpl(b: Array[Byte]): Option[PixelDecode.Image] = {
    if (b == null || b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    val qt = new Array[Array[Int]](4)
    val dcTables = new Array[Huff](4)
    val acTables = new Array[Huff](4)
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var progressive = false
    var arithmetic = false
    var precision = 8
    // hierarchical (annex J, same-resolution form): reference planes
    // accumulate across frames — a non-differential frame sets them, each
    // differential frame's IDCT output adds in
    var hier = false
    var differential = false
    var lossless = false
    var refPlanes: Array[Array[Double]] = null
    var refPlaneW: Array[Int] = null
    var refComps: Array[Component] = null
    var refHMax = 0; var refVMax = 0
    // DAC conditioning (T.81 B.2.4.3), per table destination; defaults
    // per F.1.4.4.1.2 / F.1.4.4.2
    val dcCondL = Array.fill(4)(0)
    val dcCondU = Array.fill(4)(1)
    val acKx = Array.fill(4)(5)
    var prog: ProgState = null // allocated at the first progressive SOS
    var i = 2
    while (i + 4 <= b.length) {
      if (u8(b, i) != 0xff) return None
      val marker = u8(b, i + 1)
      if (marker == 0xff) { i += 1 } // fill byte
      else if (marker == 0xd8 || marker == 0x01 ||
          (marker >= 0xd0 && marker <= 0xd7)) { i += 2 } // standalone
      else if (marker == 0xd9) { // EOI: progressive/hierarchical assemble here
        if (hier)
          return if (refPlanes != null)
            assemble(width, height, refComps, refPlanes, refPlaneW,
              refHMax, refVMax, precision)
          else None
        return if (prog != null && prog.anyScan)
          reconstructProgressive(prog, comps, qt, width, height, precision)
        else None // EOI before any decodable scan
      }
      else {
        val len = be16(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return None
        val seg = i + 4
        var jumped = -1 // progressive SOS sets this past the entropy data
        marker match {
          case 0xdb => // DQT: one or more tables, 8- or 16-bit entries
            var p = seg
            while (p < i + 2 + len) {
              val pq = u8(b, p) >> 4; val tq = u8(b, p) & 15
              if (pq > 1 || tq > 3) return None
              val t = new Array[Int](64)
              var k = 0
              while (k < 64) {
                t(k) = if (pq == 0) u8(b, p + 1 + k) else be16(b, p + 1 + 2 * k)
                k += 1
              }
              qt(tq) = t; p += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xc4 => // DHT: one or more tables
            var p = seg
            while (p < i + 2 + len) {
              val tc = u8(b, p) >> 4; val th = u8(b, p) & 15
              if (th > 3) return None
              val counts = Array.tabulate(16)(j => u8(b, p + 1 + j))
              val n = counts.sum
              val syms = Array.tabulate(n)(j => u8(b, p + 17 + j))
              val h = new Huff(counts, syms)
              if (tc == 0) dcTables(th) = h else acTables(th) = h
              p += 17 + n
            }
          case 0xde => // DHP: hierarchical frame header (same syntax as SOF)
            precision = u8(b, seg)
            if (precision != 8 && precision != 12) return None
            hier = true
          case 0xdf => // EXP: resolution-pyramid upsampling — quarantine
            return None
          case 0xcd => // SOF13: differential sequential, arithmetic coding
            if (!hier) return None // differential frames are hierarchical-only
            precision = u8(b, seg)
            if (precision != 8 && precision != 12) return None
            progressive = false
            arithmetic = true
            differential = true
            height = be16(b, seg + 1); width = be16(b, seg + 3)
            val nc = u8(b, seg + 5)
            if (nc != 1 && nc != 3) return None
            comps = Array.tabulate(nc) { c =>
              val o = seg + 6 + c * 3
              Component(u8(b, o), u8(b, o + 1) >> 4, u8(b, o + 1) & 15, u8(b, o + 2))
            }
            if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4)) return None
          case 0xc0 | 0xc1 | 0xc2 | 0xc9 | 0xca => // sequential /
            // progressive / arithmetic sequential / arithmetic progressive
            differential = false
            precision = u8(b, seg)
            // baseline (SOF0) is 8-bit by definition; the extended /
            // progressive / arithmetic frames also carry 12-bit samples
            // (T.81 table B.2) — output keeps full precision, like the
            // 16-bit PNG path
            if (precision != 8 && !(precision == 12 && marker != 0xc0))
              return None
            progressive = marker == 0xc2 || marker == 0xca
            arithmetic = marker == 0xc9 || marker == 0xca
            height = be16(b, seg + 1); width = be16(b, seg + 3)
            val nc = u8(b, seg + 5)
            if (nc != 1 && nc != 3) return None
            comps = Array.tabulate(nc) { c =>
              val o = seg + 6 + c * 3
              Component(u8(b, o), u8(b, o + 1) >> 4, u8(b, o + 1) & 15, u8(b, o + 2))
            }
            if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4)) return None
          case 0xc3 => // SOF3: lossless (Huffman, annex H)
            precision = u8(b, seg)
            if (precision < 2 || precision > 16) return None
            lossless = true
            progressive = false; arithmetic = false; differential = false
            height = be16(b, seg + 1); width = be16(b, seg + 3)
            val nc = u8(b, seg + 5)
            if (nc < 1 || nc > 4) return None
            comps = Array.tabulate(nc) { c =>
              val o = seg + 6 + c * 3
              Component(u8(b, o), u8(b, o + 1) >> 4, u8(b, o + 1) & 15, u8(b, o + 2))
            }
            // lossless with subsampling interleaves on a sample grid this
            // decoder does not model — 1×1 factors only (the common case)
            if (comps.exists(c => c.h != 1 || c.v != 1)) return None
          case 0xc5 | 0xc6 | 0xc7 | 0xcb | 0xce | 0xcf =>
            // Huffman/progressive/lossless DIFFERENTIAL frames and
            // arithmetic lossless: quarantine (SOF13 decodes above)
            return None
          case 0xcc => // DAC: arithmetic conditioning (B.2.4.3)
            var p = seg
            while (p + 1 < i + 2 + len) {
              val tc = u8(b, p) >> 4; val tb = u8(b, p) & 15
              val cs = u8(b, p + 1)
              if (tb > 3) return None
              if (tc == 0) {
                val l = cs & 15; val u = cs >> 4
                if (l > u) return None
                dcCondL(tb) = l; dcCondU(tb) = u
              } else if (tc == 1) {
                if (cs < 1 || cs > 63) return None
                acKx(tb) = cs
              } else return None
              p += 2
            }
          case 0xdd => restartInterval = be16(b, seg)
          case 0xda => // SOS — entropy data follows
            if (comps == null || width <= 0 || height <= 0) return None
            // Decode-bomb guard: SOF0 geometry drives the per-component
            // Double-plane allocations in decodeScan before any entropy
            // data is validated — a tiny stream claiming 65535×65535 would
            // request ~34 GB, and the resulting OutOfMemoryError is an
            // Error the quarantine catch cannot intercept. Cap shared with
            // PixelDecode's PNG path.
            if (width.toLong * height > PixelDecode.MaxPixels) return None
            val ns = u8(b, seg)
            if (ns < 1 || ns > comps.length) return None
            var p = seg + 1
            val scanComps = new Array[Component](ns)
            for (j <- 0 until ns) {
              val cid = u8(b, p)
              val c = comps.find(_.id == cid).getOrElse(return None)
              c.td = u8(b, p + 1) >> 4; c.ta = u8(b, p + 1) & 15
              scanComps(j) = c
              p += 2
            }
            val ss = u8(b, p); val se = u8(b, p + 1)
            val ah = u8(b, p + 2) >> 4; val al = u8(b, p + 2) & 15
            p += 3
            if (lossless) {
              if (ns != comps.length) return None
              // Ss carries the predictor selector, Al the point transform
              return decodeScanLossless(b, p, width, height, comps,
                dcTables, restartInterval, precision, ss, al)
            }
            if (!progressive) {
              if (ns != comps.length) return None // multi-scan sequential: out of scope
              if (hier) {
                // one frame of the pyramid: accumulate, keep walking
                if (!arithmetic) return None // Huffman hierarchical: quarantine
                decodeScanArithPlanes(b, p, width, height, comps, qt,
                  dcCondL, dcCondU, acKx, restartInterval, precision,
                  differential) match {
                  case None => return None
                  case Some((planes, planeW, hMax, vMax, next)) =>
                    if (next < 0) return None
                    if (!differential) {
                      refPlanes = planes; refPlaneW = planeW
                      refComps = comps; refHMax = hMax; refVMax = vMax
                    } else {
                      // same-resolution pyramid only: geometry must match
                      if (refPlanes == null ||
                          planes.length != refPlanes.length ||
                          planes.indices.exists(ci =>
                            planes(ci).length != refPlanes(ci).length ||
                              planeW(ci) != refPlaneW(ci))) return None
                      var ci = 0
                      while (ci < planes.length) {
                        var i = 0
                        while (i < planes(ci).length) {
                          refPlanes(ci)(i) += planes(ci)(i)
                          i += 1
                        }
                        ci += 1
                      }
                    }
                    jumped = next
                }
              } else if (arithmetic)
                return decodeScanArith(b, p, width, height, comps, qt,
                  dcCondL, dcCondU, acKx, restartInterval, precision)
              else
                return decodeScan(b, p, width, height, comps, qt, dcTables,
                  acTables, restartInterval, precision)
            } else {
              // progressive: one scan refines the shared coefficient
              // store, then the marker walk continues to the next scan
              if (prog == null) prog = new ProgState(comps, width, height)
              val next =
                if (arithmetic)
                  progressiveScanArith(b, p, prog, comps, scanComps,
                    ss, se, ah, al, dcCondL, dcCondU, acKx, restartInterval)
                else progressiveScan(b, p, prog, comps, scanComps,
                  ss, se, ah, al, dcTables, acTables, restartInterval)
              if (next < 0) return None
              jumped = next
            }
          case _ => // APPn / COM / others: skip
        }
        i = if (jumped >= 0) jumped else i + 2 + len
      }
    }
    // stream end (a trailing 2-byte EOI never enters the 4-byte-min
    // marker loop): assemble what the frames/scans delivered
    if (hier)
      return if (refPlanes != null)
        assemble(width, height, refComps, refPlanes, refPlaneW,
          refHMax, refVMax, precision)
      else None
    if (prog != null && prog.anyScan)
      reconstructProgressive(prog, comps, qt, width, height, precision)
    else None
  }

  private def decodeScan(b: Array[Byte], start: Int, width: Int, height: Int,
      comps: Array[Component], qt: Array[Array[Int]],
      dcT: Array[Huff], acT: Array[Huff], restartInterval: Int,
      precision: Int): Option[PixelDecode.Image] = {
    val half = (1 << (precision - 1)).toDouble
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcuW = 8 * hMax; val mcuH = 8 * vMax
    val mcusX = (width + mcuW - 1) / mcuW
    val mcusY = (height + mcuH - 1) / mcuH
    // per-component pixel planes at full MCU-padded resolution
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(ci => new Array[Double](planeW(ci) * planeH(ci))).toArray

    val r = new BitReader(b, start)
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        r.restart()
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val qtab = qt(c.tq); if (qtab == null) return None
        val dct = dcT(c.td); val act = acT(c.ta)
        if (dct == null || act == null) return None
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // entropy-decode one 8x8 block
            val coef = new Array[Double](64)
            val s = r.decode(dct)
            val diff = extend(r.bits(s), s)
            c.pred += diff
            coef(0) = c.pred.toDouble * qtab(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = r.decode(act)
              val run = rs >> 4; val size = rs & 15
              if (rs == 0) eob = true
              else if (rs == 0xf0) k += 16
              else {
                k += run
                if (k > 63) return None
                coef(zz(k)) = extend(r.bits(size), size).toDouble * qtab(k)
                k += 1
              }
            }
            val px = idct(coef)
            // place into the component plane (level shift +128 deferred)
            val baseX = (mx * c.h + bx) * 8
            val baseY = (my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((baseY + yy) * planeW(ci) + baseX + xx) = px(yy * 8 + xx) + half
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }

    assemble(width, height, comps, planes, planeW, hMax, vMax, precision)
  }

  // ---- arithmetic sequential (T.81 annexes D/F, SOF9) ----

  /** DC difference per F.2.4.1: conditioning class in `dcCtx(ci)` (0 =
    * zero history, 4/8 = small ±, 12/16 = large ± per the table's L/U),
    * magnitude category on the bin-20 staircase, magnitude bits in one
    * bin at staircase+14. Exact mirror of
    * [[JpegArithEncode.encodeDc]]'s decision sequence.
    */
  private def decodeDcArith(dec: QmCoder.Dec, st: Array[Byte],
      dcCtx: Array[Int], ci: Int, condL: Int, condU: Int): Int = {
    val base = dcCtx(ci)
    if (dec.decode(st, base) == 0) { dcCtx(ci) = 0; return 0 }
    val sign = dec.decode(st, base + 1)
    var m = 0
    var v = 0
    if (dec.decode(st, base + 2 + sign) != 0) {
      m = 1
      var bin = 20
      while (dec.decode(st, bin) != 0) {
        m <<= 1
        if (m == 0x8000) throw Truncated
        bin += 1
      }
      v = m
      var mm = m >> 1
      val bits = bin + 14
      while (mm != 0) { if (dec.decode(st, bits) != 0) v |= mm; mm >>= 1 }
    }
    // conditioning class for the NEXT block (F.1.4.4.1.2)
    dcCtx(ci) =
      if (m < ((1 << condL) >> 1)) 0
      else if (m > ((1 << condU) >> 1)) 12 + sign * 4
      else 4 + sign * 4
    val mag = v + 1
    if (sign == 1) -mag else mag
  }

  /** AC coefficients per F.2.4.2: 3 bins per index k (EOB, run,
    * magnitude-1 — the third decides both mag>1 and mag>2), the two
    * magnitude staircases at 189 (k ≤ Kx) / 217, sign in the fixed
    * equiprobable bin. Mirror of [[JpegArithEncode.encodeAc]]. Serves the
    * sequential scan (band 1..63, al 0) AND the progressive first scan of
    * a spectral band (values land shifted by the successive-approximation
    * position, G.2.2's arithmetic counterpart of decodeAcFirst).
    */
  private def decodeAcArith(dec: QmCoder.Dec, st: Array[Byte],
      fixed: Array[Byte], coefs: Array[Int], off: Int, ss: Int, se: Int,
      al: Int, kx: Int): Unit = {
    var k = ss
    while (k <= se) {
      var base = 3 * (k - 1)
      if (dec.decode(st, base) != 0) return // end-of-block (for the band)
      while (dec.decode(st, base + 1) == 0) {
        base += 3
        k += 1
        if (k > se) throw Truncated
      }
      val sign = dec.decode(fixed, 0)
      var m = 0
      var bits = base + 2 + 14
      if (dec.decode(st, base + 2) != 0) {
        m = 1
        if (dec.decode(st, base + 2) != 0) {
          m = 2
          var bin = if (k <= kx) 189 else 217
          while (dec.decode(st, bin) != 0) {
            m <<= 1
            if (m == 0x8000) throw Truncated
            bin += 1
          }
          bits = bin + 14
        }
      }
      var v = m
      var mm = m >> 1
      while (mm != 0) { if (dec.decode(st, bits) != 0) v |= mm; mm >>= 1 }
      val mag = v + 1
      coefs(off + zz(k)) = (if (sign == 1) -mag else mag) << al
      k += 1
    }
  }

  /** AC refinement under arithmetic coding (G.2.3, the counterpart of
    * [[decodeAcRefine]]): previously-nonzero coefficients take one
    * correction bit from their index's third bin; zero-history positions
    * take a newly-nonzero decision from the second bin (then a fixed-bin
    * sign for a ±1·2^al); past `kex` — the last previously-nonzero index
    * — each index starts with an end-of-band decision. The stored-value
    * invariant (multiples of 2^al before the scan) makes the two's-
    * complement `& p1` magnitude-bit test exact for negatives.
    */
  private def decodeAcRefineArith(dec: QmCoder.Dec, st: Array[Byte],
      fixed: Array[Byte], coefs: Array[Int], off: Int, ss: Int, se: Int,
      al: Int): Unit = {
    val p1 = 1 << al
    var kex = se
    while (kex > 0 && coefs(off + zz(kex)) == 0) kex -= 1
    var k = ss
    while (k <= se) {
      var base = 3 * (k - 1)
      if (k > kex && dec.decode(st, base) != 0) return // end of band
      var placed = false
      while (!placed) {
        val idx = off + zz(k)
        if (coefs(idx) != 0) {
          if (dec.decode(st, base + 2) != 0 && (coefs(idx) & p1) == 0)
            coefs(idx) += (if (coefs(idx) >= 0) p1 else -p1)
          placed = true
        } else if (dec.decode(st, base + 1) != 0) {
          coefs(idx) = if (dec.decode(fixed, 0) == 1) -p1 else p1
          placed = true
        } else {
          base += 3
          k += 1
          if (k > se) throw Truncated
        }
      }
      k += 1
    }
  }

  /** One PROGRESSIVE scan under arithmetic coding (SOF10, annex G's
    * arithmetic procedures): the scan geometry of [[progressiveScan]] —
    * interleaved DC scans on the MCU grid, single-component AC scans on
    * the true block raster — with the QM coder + F.2.4/G.2 models
    * replacing the Huffman reader. DC first scans run the sequential DC
    * model on the point-transformed values (stored `<< al`); DC
    * refinements take one fixed-bin bit per block; AC first/refine are
    * [[decodeAcArith]]/[[decodeAcRefineArith]]. Statistics, conditioning
    * contexts, and predictors are per-scan (each scan opens its own
    * coder); restarts resync to the RSTn marker and reset all of them.
    * Returns the offset of the next marker's 0xFF, or -1 on malformed
    * data.
    */
  private def progressiveScanArith(b: Array[Byte], start: Int, st: ProgState,
      comps: Array[Component], scanComps: Array[Component],
      ss: Int, se: Int, ah: Int, al: Int,
      dcCondL: Array[Int], dcCondU: Array[Int], acKx: Array[Int],
      restartInterval: Int): Int = {
    if (ss < 0 || se > 63 || ss > se || al > 13) return -1
    var dec = new QmCoder.Dec(b, start)
    var dcStats: Array[Array[Byte]] = null
    var acStats: Array[Array[Byte]] = null
    var fixed: Array[Byte] = null
    val dcCtx = new Array[Int](comps.length)
    def reset(): Unit = {
      dcStats = Array.fill(4)(new Array[Byte](64))
      acStats = Array.fill(4)(new Array[Byte](256))
      fixed = Array[Byte](QmCoder.FixedState.toByte)
      java.util.Arrays.fill(dcCtx, 0)
      scanComps.foreach(_.pred = 0)
    }
    reset()
    def resync(): Boolean = {
      val mp = nextMarkerWithRst(b, dec.pos)
      if (mp < 0) return false
      val mk = u8(b, mp + 1)
      if (mk < 0xd0 || mk > 0xd7) return false
      dec = new QmCoder.Dec(b, mp + 2)
      reset()
      true
    }
    def dcBlock(c: Component, ci: Int, off: Int): Unit =
      if (ah == 0) {
        c.pred += decodeDcArith(dec, dcStats(c.td), dcCtx, ci,
          dcCondL(c.td), dcCondU(c.td))
        st.coefs(ci)(off) = c.pred << al
      } else if (dec.decode(fixed, 0) == 1)
        st.coefs(ci)(off) |= 1 << al
    try {
      if (scanComps.length > 1) {
        // interleaved scan: DC band only (G.1.1 mirrors T.81 G.1.1.1)
        if (ss != 0 || se != 0) return -1
        val nMcus = st.mcusX * st.mcusY
        var mcu = 0
        while (mcu < nMcus) {
          if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0
              && !resync()) return -1
          val mx = mcu % st.mcusX; val my = mcu / st.mcusX
          var j = 0
          while (j < scanComps.length) {
            val c = scanComps(j)
            val ci = comps.indexWhere(_.id == c.id)
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                dcBlock(c, ci,
                  ((my * c.v + by) * st.padW(ci) + mx * c.h + bx) * 64)
                bx += 1
              }
              by += 1
            }
            j += 1
          }
          mcu += 1
        }
      } else {
        // single component on its TRUE block raster (A.2.2), DC or AC
        val c = scanComps(0)
        val ci = comps.indexWhere(_.id == c.id)
        val coefs = st.coefs(ci)
        val bw = st.blocksW(ci); val bh = st.blocksH(ci)
        val nBlk = bw * bh
        var blk = 0
        while (blk < nBlk) {
          if (restartInterval > 0 && blk > 0 && blk % restartInterval == 0
              && !resync()) return -1
          val off = ((blk / bw) * st.padW(ci) + blk % bw) * 64
          if (ss == 0) {
            if (se != 0) return -1
            dcBlock(c, ci, off)
          } else if (ah == 0)
            decodeAcArith(dec, acStats(c.ta), fixed, coefs, off, ss, se,
              al, acKx(c.ta))
          else
            decodeAcRefineArith(dec, acStats(c.ta), fixed, coefs, off, ss,
              se, al)
          blk += 1
        }
      }
    } catch { case Truncated => return -1 }
    st.anyScan = true
    nextMarker(b, dec.pos)
  }

  /** Next marker's 0xFF at/after `from`, INCLUDING restart markers (the
    * restart resync point needs them; contrast [[nextMarker]], which
    * skips them for the progressive marker walk).
    */
  private def nextMarkerWithRst(b: Array[Byte], from: Int): Int = {
    var p = from
    while (p + 1 < b.length) {
      if ((b(p) & 0xff) == 0xff) {
        val m = b(p + 1) & 0xff
        if (m != 0x00 && m != 0xff) return p
        p += 2
      } else p += 1
    }
    -1
  }

  /** Sequential scan under arithmetic entropy coding: the MCU walk and
    * block placement of [[decodeScan]], with the QM coder + F.2.4 models
    * replacing the Huffman reader. A restart boundary resyncs to the RSTn
    * marker, then restarts the coder AND all statistics/conditioning
    * state (F.2.1.3.1).
    */
  private def decodeScanArith(b: Array[Byte], start: Int, width: Int,
      height: Int, comps: Array[Component], qt: Array[Array[Int]],
      dcCondL: Array[Int], dcCondU: Array[Int], acKx: Array[Int],
      restartInterval: Int, precision: Int): Option[PixelDecode.Image] =
    decodeScanArithPlanes(b, start, width, height, comps, qt, dcCondL,
      dcCondU, acKx, restartInterval, precision, differential = false)
      .flatMap { case (planes, planeW, hMax, vMax, _) =>
        assemble(width, height, comps, planes, planeW, hMax, vMax, precision)
      }

  /** The scan body of [[decodeScanArith]], returning raw component planes
    * plus the next marker offset — the form the hierarchical frame loop
    * needs (annex J): a DIFFERENTIAL frame (SOF13) decodes with no level
    * shift and the DC prediction frozen at zero (F.2.1.3.1), and its
    * planes ADD to the reference instead of being assembled.
    */
  private def decodeScanArithPlanes(b: Array[Byte], start: Int, width: Int,
      height: Int, comps: Array[Component], qt: Array[Array[Int]],
      dcCondL: Array[Int], dcCondU: Array[Int], acKx: Array[Int],
      restartInterval: Int, precision: Int, differential: Boolean)
      : Option[(Array[Array[Double]], Array[Int], Int, Int, Int)] = {
    val half = if (differential) 0.0 else (1 << (precision - 1)).toDouble
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(ci => new Array[Double](planeW(ci) * planeH(ci))).toArray

    var dec = new QmCoder.Dec(b, start)
    var dcStats: Array[Array[Byte]] = null
    var acStats: Array[Array[Byte]] = null
    var fixed: Array[Byte] = null
    val dcCtx = new Array[Int](comps.length)
    def reset(): Unit = {
      dcStats = Array.fill(4)(new Array[Byte](64))
      acStats = Array.fill(4)(new Array[Byte](256))
      fixed = Array[Byte](QmCoder.FixedState.toByte)
      java.util.Arrays.fill(dcCtx, 0)
      comps.foreach(_.pred = 0)
    }
    reset()

    val coef = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // resync: the segment may have unconsumed trailing bytes; within
        // entropy data every 0xFF is stuffed, so the next bare marker IS
        // the restart
        val mp = nextMarkerWithRst(b, dec.pos)
        if (mp < 0) return None
        val mk = u8(b, mp + 1)
        if (mk < 0xd0 || mk > 0xd7) return None
        dec = new QmCoder.Dec(b, mp + 2)
        reset()
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val qtab = qt(c.tq); if (qtab == null) return None
        val dst = dcStats(c.td); val ast = acStats(c.ta)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            java.util.Arrays.fill(coef, 0)
            val dcDiff = decodeDcArith(dec, dst, dcCtx, ci,
              dcCondL(c.td), dcCondU(c.td))
            // differential frames code the DC coefficient against a
            // prediction frozen at zero (F.2.1.3.1)
            if (differential) coef(0) = dcDiff
            else { c.pred += dcDiff; coef(0) = c.pred }
            decodeAcArith(dec, ast, fixed, coef, 0, 1, 63, 0, acKx(c.ta))
            // dequantize (qtab is zigzag-ordered, coef natural) + IDCT
            val block = new Array[Double](64)
            var k = 0
            while (k < 64) { block(zz(k)) = coef(zz(k)).toDouble * qtab(k); k += 1 }
            val px = idct(block)
            val baseX = (mx * c.h + bx) * 8
            val baseY = (my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((baseY + yy) * planeW(ci) + baseX + xx) =
                  px(yy * 8 + xx) + half
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    Some((planes, planeW, hMax, vMax, nextMarker(b, dec.pos)))
  }

  // ---- lossless (T.81 annex H, SOF3) ----

  /** Lossless scan: raster-ordered per-sample prediction (the seven
    * annex-H predictors; first sample = 2^(P−1−Pt), first line predicts
    * from the left, first column from above), Huffman-coded differences
    * (DC-style SSSS categories, 16 = +32768 with no extra bits), modulo
    * 2^16 reconstruction, output shifted back by the point transform.
    * Components pass through UNTRANSFORMED — lossless carries no JFIF
    * YCbCr contract — so a 3-channel image is whatever the encoder put
    * in (typically RGB). Exactness is the whole point: decode(encode(x))
    * == x bit for bit (JpegLosslessSpec).
    */
  private def decodeScanLossless(b: Array[Byte], start: Int, width: Int,
      height: Int, comps: Array[Component], dcT: Array[Huff],
      restartInterval: Int, precision: Int, predictor: Int, pt: Int)
      : Option[PixelDecode.Image] = {
    if (predictor < 1 || predictor > 7) return None
    if (pt < 0 || pt >= precision) return None
    val nch = comps.length
    val planes = Array.ofDim[Int](nch, width * height)
    val r = new BitReader(b, start)
    val default = 1 << (precision - 1 - pt)
    var sample = 0 // raster index within a row-major walk
    val n = width * height
    var sinceRestart = 0
    var restartPending = false
    while (sample < n) {
      val y = sample / width; val x = sample % width
      if (restartInterval > 0 && sinceRestart == restartInterval) {
        r.restart()
        sinceRestart = 0
        restartPending = true // prediction re-initializes (H.2.2)
      }
      var ci = 0
      while (ci < nch) {
        val c = comps(ci)
        val h = dcT(c.td); if (h == null) return None
        val s = r.decode(h)
        val diff =
          if (s == 0) 0
          else if (s == 16) 32768 // H.1.2.2: no appended bits
          else extend(r.bits(s), s)
        val p = planes(ci)
        val pred =
          if (restartPending || (y == 0 && x == 0)) default
          else if (x == 0) p((y - 1) * width) // first column: Rb
          else if (y == 0) p(x - 1) // first line: Ra
          else {
            val ra = p(y * width + x - 1)
            val rb = p((y - 1) * width + x)
            val rc = p((y - 1) * width + x - 1)
            predictor match {
              case 1 => ra
              case 2 => rb
              case 3 => rc
              case 4 => ra + rb - rc
              case 5 => ra + ((rb - rc) >> 1)
              case 6 => rb + ((ra - rc) >> 1)
              case 7 => (ra + rb) >> 1
            }
          }
        p(y * width + x) = (pred + diff) & 0xffff
        ci += 1
      }
      restartPending = false
      sinceRestart += 1
      sample += 1
    }
    // point transform shifts back; values are exact, no clamping needed
    val maxV = (1 << precision) - 1
    val out = new Array[Int](n * nch)
    var i = 0
    while (i < n) {
      var ci = 0
      while (ci < nch) {
        out(i * nch + ci) = math.min(maxV, planes(ci)(i) << pt)
        ci += 1
      }
      i += 1
    }
    Some(PixelDecode.Image("jpeg", width, height, nch, out))
  }

  /** Upsample subsampled planes by sample replication and convert JFIF
    * YCbCr→RGB (or pass grayscale through). Shared by the sequential and
    * progressive paths — planes carry level-shifted (+128) values.
    */
  private def assemble(width: Int, height: Int, comps: Array[Component],
      planes: Array[Array[Double]], planeW: Array[Int], hMax: Int,
      vMax: Int, precision: Int): Option[PixelDecode.Image] = {
    val maxV = (1 << precision) - 1
    val half = (1 << (precision - 1)).toDouble
    val nch = comps.length
    val out = new Array[Int](width * height * nch)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        if (nch == 1) {
          out(y * width + x) = clamp(planes(0)(y * planeW(0) + x), maxV)
        } else {
          def sample(ci: Int): Double = {
            val c = comps(ci)
            val sx = x * c.h / hMax; val sy = y * c.v / vMax
            planes(ci)(sy * planeW(ci) + sx)
          }
          val yv = sample(0); val cb = sample(1) - half; val cr = sample(2) - half
          val o = (y * width + x) * 3
          out(o) = clamp(yv + 1.402 * cr, maxV)
          out(o + 1) = clamp(yv - 0.344136 * cb - 0.714136 * cr, maxV)
          out(o + 2) = clamp(yv + 1.772 * cb, maxV)
        }
        x += 1
      }
      y += 1
    }
    Some(PixelDecode.Image("jpeg", width, height, nch, out))
  }

  // ---- progressive (T.81 annex G) ----

  /** Cross-scan coefficient store for progressive decode: per component,
    * one Int per coefficient in NATURAL (de-zigzagged) order, blocks laid
    * out on the MCU-padded grid so interleaved DC scans and
    * non-interleaved AC scans index the same storage. Values are
    * UNQUANTIZED — successive-approximation bits accumulate across scans
    * and the quant table applies once at reconstruction.
    */
  private final class ProgState(comps: Array[Component], width: Int, height: Int) {
    val hMax: Int = comps.map(_.h).max
    val vMax: Int = comps.map(_.v).max
    val mcusX: Int = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY: Int = (height + 8 * vMax - 1) / (8 * vMax)
    /** storage grid (blocks per row / rows), MCU-padded */
    val padW: Array[Int] = comps.map(c => mcusX * c.h)
    val padH: Array[Int] = comps.map(c => mcusY * c.v)
    /** true component block dims for non-interleaved scans (T.81 A.2.2) */
    val blocksW: Array[Int] =
      comps.map(c => ((width * c.h + hMax - 1) / hMax + 7) / 8)
    val blocksH: Array[Int] =
      comps.map(c => ((height * c.v + vMax - 1) / vMax + 7) / 8)
    val coefs: Array[Array[Int]] =
      comps.indices.map(ci => new Array[Int](padW(ci) * padH(ci) * 64)).toArray
    var anyScan = false
  }

  /** Decode one progressive scan into `st`; returns the offset of the
    * next marker's 0xFF byte, or -1 on malformed data. Interleaved scans
    * (ns > 1, DC only) walk the MCU grid; single-component scans walk
    * that component's own block raster (T.81 A.2.2). Restart markers
    * reset DC predictors and the EOB run.
    */
  private def progressiveScan(b: Array[Byte], start: Int, st: ProgState,
      comps: Array[Component], scanComps: Array[Component],
      ss: Int, se: Int, ah: Int, al: Int,
      dcT: Array[Huff], acT: Array[Huff], restartInterval: Int): Int = {
    if (ss < 0 || se > 63 || ss > se || al > 13) return -1
    val r = new BitReader(b, start)
    var eobrun = 0
    scanComps.foreach(_.pred = 0)
    try {
      if (scanComps.length > 1) {
        // interleaved scan: DC band only (T.81 G.1.1.1)
        if (ss != 0 || se != 0) return -1
        val nMcus = st.mcusX * st.mcusY
        var mcu = 0
        while (mcu < nMcus) {
          if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
            r.restart(); scanComps.foreach(_.pred = 0)
          }
          val mx = mcu % st.mcusX; val my = mcu / st.mcusX
          var j = 0
          while (j < scanComps.length) {
            val c = scanComps(j)
            val ci = comps.indexWhere(_.id == c.id)
            val dct = dcT(c.td); if (ah == 0 && dct == null) return -1
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                val off = ((my * c.v + by) * st.padW(ci) + mx * c.h + bx) * 64
                decodeDcProg(r, st.coefs(ci), off, c, dct, ah, al)
                bx += 1
              }
              by += 1
            }
            j += 1
          }
          mcu += 1
        }
      } else {
        val c = scanComps(0)
        val ci = comps.indexWhere(_.id == c.id)
        val coefs = st.coefs(ci)
        val bw = st.blocksW(ci); val bh = st.blocksH(ci)
        val dct = dcT(c.td); val act = acT(c.ta)
        if (ss == 0 && ah == 0 && dct == null) return -1
        if (ss > 0 && act == null) return -1
        val nBlk = bw * bh
        var blk = 0
        while (blk < nBlk) {
          if (restartInterval > 0 && blk > 0 && blk % restartInterval == 0) {
            r.restart(); c.pred = 0; eobrun = 0
          }
          val off = ((blk / bw) * st.padW(ci) + blk % bw) * 64
          if (ss == 0) decodeDcProg(r, coefs, off, c, dct, ah, al)
          else if (ah == 0) eobrun = decodeAcFirst(r, coefs, off, act, ss, se, al, eobrun)
          else eobrun = decodeAcRefine(r, coefs, off, act, ss, se, al, eobrun)
          blk += 1
        }
      }
    } catch { case Truncated => return -1 }
    st.anyScan = true
    nextMarker(b, r.pos)
  }

  /** DC band: first pass decodes the predicted difference shifted left by
    * the approximation bit position; refinement appends one bit. */
  private def decodeDcProg(r: BitReader, coefs: Array[Int], off: Int,
      c: Component, dct: Huff, ah: Int, al: Int): Unit = {
    if (ah == 0) {
      val s = r.decode(dct)
      c.pred += extend(r.bits(s), s)
      coefs(off) = c.pred << al
    } else if (r.bit() == 1) coefs(off) |= 1 << al
  }

  /** AC band, first pass (T.81 G.1.2.2): run-length/size symbols within
    * [ss, se], magnitudes shifted by al, EOBn codes start a run of
    * all-zero-band blocks. Returns the remaining EOB run.
    */
  private def decodeAcFirst(r: BitReader, coefs: Array[Int], off: Int,
      act: Huff, ss: Int, se: Int, al: Int, eobrun: Int): Int = {
    if (eobrun > 0) return eobrun - 1
    var k = ss
    while (k <= se) {
      val rs = r.decode(act)
      val run = rs >> 4; val size = rs & 15
      if (size == 0) {
        if (run == 15) k += 16 // ZRL
        else {
          var e = 1 << run
          if (run > 0) e += r.bits(run)
          return e - 1 // EOBn: this block is the first of the run
        }
      } else {
        k += run
        if (k > se) throw Truncated
        coefs(off + zz(k)) = extend(r.bits(size), size) << al
        k += 1
      }
    }
    0
  }

  /** AC band refinement (T.81 G.1.2.3): each previously-nonzero
    * coefficient passed over consumes a correction bit; zero-history
    * coefficients are counted by the run and the (±1 << al) value lands
    * on the run's end. EOB runs refine the rest of the band. Returns the
    * remaining EOB run.
    */
  private def decodeAcRefine(r: BitReader, coefs: Array[Int], off: Int,
      act: Huff, ss: Int, se: Int, al: Int, eobrun: Int): Int = {
    val p1 = 1 << al
    var k = ss
    var eb = eobrun
    if (eb == 0) {
      var ended = false
      while (k <= se && !ended) {
        val rs = r.decode(act)
        var run = rs >> 4; val size = rs & 15
        var value = 0
        if (size == 0) {
          if (run != 15) { // EOBn
            eb = 1 << run
            if (run > 0) eb += r.bits(run)
            ended = true
          }
          // run == 15 (ZRL): skip 16 zero-history coefficients, value 0
        } else {
          if (size != 1) throw Truncated // refinement magnitudes are ±1
          value = if (r.bit() == 1) p1 else -p1
        }
        if (!ended) {
          var placed = false
          while (k <= se && !placed) {
            val idx = off + zz(k)
            if (coefs(idx) != 0) {
              if (r.bit() == 1 && (coefs(idx) & p1) == 0)
                coefs(idx) += (if (coefs(idx) >= 0) p1 else -p1)
            } else if (run == 0) {
              if (value != 0) coefs(idx) = value
              placed = true
            } else run -= 1
            k += 1
          }
        }
      }
    }
    if (eb > 0) {
      while (k <= se) { // correction bits for the rest of the band
        val idx = off + zz(k)
        if (coefs(idx) != 0 && r.bit() == 1 && (coefs(idx) & p1) == 0)
          coefs(idx) += (if (coefs(idx) >= 0) p1 else -p1)
        k += 1
      }
      eb -= 1
    }
    eb
  }

  /** Offset of the next real marker's 0xFF at/after `from` (stuffed FF00,
    * fill bytes, and stray RST markers are skipped); -1 if none. */
  private def nextMarker(b: Array[Byte], from: Int): Int = {
    var p = from
    while (p + 1 < b.length) {
      if ((b(p) & 0xff) == 0xff) {
        val m = b(p + 1) & 0xff
        if (m != 0x00 && m != 0xff && !(m >= 0xd0 && m <= 0xd7)) return p
        p += 2
      } else p += 1
    }
    -1
  }

  /** Dequantize the accumulated coefficient store, IDCT every block on
    * the padded grid, and hand the planes to the shared assembler. */
  private def reconstructProgressive(st: ProgState, comps: Array[Component],
      qt: Array[Array[Int]], width: Int, height: Int, precision: Int)
      : Option[PixelDecode.Image] = {
    val half = (1 << (precision - 1)).toDouble
    val planeW = comps.indices.map(ci => st.padW(ci) * 8).toArray
    val planes = comps.indices
      .map(ci => new Array[Double](planeW(ci) * st.padH(ci) * 8)).toArray
    var ci = 0
    while (ci < comps.length) {
      val qtab = qt(comps(ci).tq); if (qtab == null) return None
      val coefs = st.coefs(ci)
      val pw = st.padW(ci); val ph = st.padH(ci)
      var br = 0
      while (br < ph) {
        var bc = 0
        while (bc < pw) {
          val off = (br * pw + bc) * 64
          val block = new Array[Double](64)
          var k = 0
          while (k < 64) { // qtab is zigzag-ordered; coefs are natural
            val nat = zz(k)
            block(nat) = coefs(off + nat).toDouble * qtab(k)
            k += 1
          }
          val px = idct(block)
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              planes(ci)((br * 8 + yy) * planeW(ci) + bc * 8 + xx) =
                px(yy * 8 + xx) + half
              xx += 1
            }
            yy += 1
          }
          bc += 1
        }
        br += 1
      }
      ci += 1
    }
    assemble(width, height, comps, planes, planeW, st.hMax, st.vMax, precision)
  }
}
