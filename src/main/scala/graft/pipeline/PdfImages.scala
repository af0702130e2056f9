package graft.pipeline

import java.nio.charset.StandardCharsets

import graft.multimodal.Multimodal

/** One raster image XObject extracted from a PDF.
  *
  * `codec` tells what `data` holds:
  *  - `"raw"`   — fully decoded 8-bit component bytes, row-major
  *    (`width * height * components`); every text-side filter
  *    (Flate/LZW/A85/AHx/RunLength) and any `/Predictor` transform
  *    has already been reversed.
  *  - `"dct"`   — the JPEG payload exactly as stored (transport
  *    coats stripped): directly decodable by `javax.imageio`.
  *  - `"jpx" | "ccitt" | "jbig2"` — the codec payload (no pure-JVM
  *    decoder in this container; carried for the OCR seam).
  *  - `"opaque"` — an 8-bit decode this subset cannot interpret as
  *    pixels (unknown colorspace, sub-8-bit samples, size mismatch);
  *    the decoded bytes are carried, luma pooling declines.
  */
final case class PdfImage(
    objNum: Int,
    width: Int,
    height: Int,
    bitsPerComponent: Int,
    colorSpace: String,
    codec: String,
    data: Array[Byte])

/** Embedded raster-image extraction — the scanned-document leg of the
  * PDF pipeline. [[PdfTextPartitioner]] recovers born-digital text
  * layers; documents whose pages are pictures (scans, figure-only
  * pages) carry their content as `/Subtype /Image` XObjects, which
  * this walks out of the object table so a corpus of scanned PDFs can
  * be perceptually deduplicated ([[graft.multimodal.ImageDedup]])
  * and measured (dims, codec mix) WITHOUT an OCR model: the reference
  * pipeline's hi_res strategy rasterizes exactly these objects before
  * inference (reference `02-parallel-ocr-with-ray.py` partition step), so image
  * identity/near-dup is decidable long before the expensive model
  * pass — at 100 TB that ordering (dedup first, OCR survivors) is the
  * difference between OCRing every copy of a viral scan and OCRing
  * one.
  *
  * Scale shape: `extract` is a pure per-row function (PDF bytes in,
  * image list out) — embarrassingly parallel under `mapPartitions`,
  * no driver state, no shuffle; malformed containers yield fewer
  * images, never task failures. Shadowing follows
  * [[PdfTextPartitioner.objectsWithPos]]: an incrementally-updated
  * image object resolves to its LAST (visible) definition.
  */
object PdfImages {
  import PdfTextPartitioner.{objectsWithPos, filterList, PdfObj}

  /** Raster-codec filter names (PDF 32000-1 §7.4, incl. inline-image
    * abbreviations) → the codec tag carried on [[PdfImage]]. */
  val RasterCodecs: Map[String, String] = Map(
    "DCTDecode" -> "dct", "DCT" -> "dct",
    "JPXDecode" -> "jpx",
    "CCITTFaxDecode" -> "ccitt", "CCF" -> "ccitt",
    "JBIG2Decode" -> "jbig2")

  private val imageSubtype = """/Subtype\s*/Image(?![A-Za-z0-9])""".r
  private val jbig2GlobalsRe = """/JBIG2Globals\s+(\d{1,9})\s+\d+\s+R""".r
  private val smaskRefRe = """/SMask\s+(\d{1,9})\s+\d+\s+R""".r
  private val iccBodyRe = """\[\s*/ICCBased\s+(\d{1,9})\s+\d+\s+R\s*\]""".r
  private val iccDirectRe =
    """/ColorSpace\s*\[\s*/ICCBased\s+(\d{1,9})\s+\d+\s+R\s*\]""".r
  private val iccNRe = """/N\s+(\d{1,2})(?!\d)""".r
  private val nameAfter = """/ColorSpace\s*/([A-Za-z0-9]+)""".r
  private val refAfter = """/ColorSpace\s+(\d{1,9})\s+\d+\s+R(?![A-Za-z0-9])""".r
  private val firstName = """/([A-Za-z0-9]+)""".r

  /** Components per sample for the colorspaces this subset pools. */
  def components(colorSpace: String): Int = colorSpace match {
    case "DeviceGray" | "CalGray" => 1
    case "DeviceRGB" | "CalRGB" => 3
    case "DeviceCMYK" => 4
    case _ => -1
  }

  /** All image XObjects of `bytes` in byte-stream order (the winning
    * definition per object number). Run AFTER
    * [[PdfCrypt.decryptStreams]] for encrypted-decryptable files —
    * the same ordering [[AutoPartitioner]] applies to the text leg.
    */
  def extract(bytes: Array[Byte]): Seq[PdfImage] =
    withObjs(bytes) { objs =>
      (standaloneImages(objs).flatMap(buildXObject(bytes, objs, _)) ++
        inlineImages(objs)).toSeq
    }.getOrElse(Seq.empty)

  /** Does the document yield at least one extractable image? The
    * routing predicate: short-circuits at the first hit instead of
    * decoding every image the way [[extract]] does — the no-text
    * audit path calls this per document. */
  def hasExtractableImage(bytes: Array[Byte]): Boolean =
    withObjs(bytes) { objs =>
      standaloneImages(objs).iterator
        .flatMap(buildXObject(bytes, objs, _)).hasNext ||
        inlineImages(objs, limit = 1).nonEmpty
    }.getOrElse(false)

  /** OCR-ready renditions of the document's images — what the image
    * leg hands the OCR seam INSTEAD of whole-PDF bytes (tesseract
    * reads PNG/JPEG/TIFF/BMP, not PDF): `dct` payloads pass through
    * as the JPEG they are; decoded rasters (gray/RGB, incl. G4 and
    * JBIG2 scans) re-encode as 24-bit BMP (pure JVM, zero deps);
    * undecodable codecs yield nothing — the caller falls back to
    * whole-content so today's behavior survives for them. This is
    * the reference pipeline's hi_res shape: rasterize page images,
    * OCR each one (`02-parallel-ocr-with-ray.py` partition step). */
  def ocrPayloads(bytes: Array[Byte]): Seq[Array[Byte]] =
    ocrPayloads(extract(bytes))

  /** [[ocrPayloads]] over ALREADY-EXTRACTED images — callers that
    * routed on the extraction result render from it directly instead
    * of decoding the document a second time. */
  def ocrPayloads(images: Seq[PdfImage]): Seq[Array[Byte]] =
    images.flatMap { im =>
      im.codec match {
        case "dct" => Some(im.data)
        case "raw" => toBmp(im)
        case _ => None
      }
    }

  /** 24-bit bottom-up BMP of a decoded raster (gray or RGB). */
  private[pipeline] def toBmp(im: PdfImage): Option[Array[Byte]] = {
    val comps = components(im.colorSpace)
    if (im.codec != "raw" || (comps != 1 && comps != 3)) return None
    if (im.data.length != im.width.toLong * im.height * comps) return None
    val rowLen = im.width * 3
    val pad = (4 - rowLen % 4) % 4
    val imgSize = (rowLen + pad) * im.height
    val fileSize = 54 + imgSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putInt(0).putInt(54)
    b.putInt(40).putInt(im.width).putInt(im.height)
      .putShort(1).putShort(24).putInt(0).putInt(imgSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = im.height - 1
    while (y >= 0) {                          // bottom-up rows
      var x = 0
      while (x < im.width) {
        val base = (y * im.width + x) * comps
        val (r, g, bl) =
          if (comps == 1) {
            val v = im.data(base)
            (v, v, v)
          } else (im.data(base), im.data(base + 1), im.data(base + 2))
        b.put(bl).put(g).put(r)               // BGR order
        x += 1
      }
      var k = 0
      while (k < pad) { b.put(0.toByte); k += 1 }
      y -= 1
    }
    Some(b.array())
  }

  private def withObjs[A](bytes: Array[Byte])(
      f: Map[Int, (Int, PdfObj)] => A): Option[A] = {
    if (bytes == null || bytes.length < 8) return None
    if (!PdfTextPartitioner.hasPdfMagic(bytes)) return None
    Some(f(objectsWithPos(bytes)))
  }

  private def xobjectImages(
      objs: Map[Int, (Int, PdfObj)]): Seq[(Int, (Int, PdfObj))] =
    objs.toSeq
      .filter { case (_, (_, o)) => imageSubtype.findFirstIn(o.dict).isDefined }
      .sortBy(_._2._1)

  /** Image XObjects that are page CONTENT — soft-mask objects
    * referenced from another image's `/SMask` are alpha channels, not
    * pictures, and composite into their base instead of appearing as
    * standalone rows (§11.6.5.2). */
  private def standaloneImages(
      objs: Map[Int, (Int, PdfObj)]): Seq[(Int, (Int, PdfObj))] = {
    val imgs = xobjectImages(objs)
    val maskNums: Set[Int] = imgs.iterator.flatMap { case (_, (_, o)) =>
      smaskRefRe.findFirstMatchIn(o.dict).map(_.group(1).toInt)
    }.toSet
    imgs.filterNot { case (num, _) => maskNums.contains(num) }
  }

  /** [[buildXObjectCore]] + `/SMask` soft-mask compositing: a masked
    * raster's VISIBLE pixels are the composite onto the white page,
    * so the perceptual hash and OCR rendition must reflect them
    * (§11.6.5.2, luminosity). Subset: the base must have finished as
    * `raw` and the mask decode to a `raw` single-component gray
    * (any depth the finisher handles) — a masked base whose mask this
    * subset cannot decode becomes `opaque` (the raw samples are NOT
    * the visible pixels; emitting them would hash invisible content).
    * Passthrough codecs (`dct`/`jpx`/undecoded fax) keep their
    * payload: the mask is lost to their downstream decoder anyway,
    * and the payload is still what the OCR seam needs. */
  private def buildXObject(
      bytes: Array[Byte],
      objs: Map[Int, (Int, PdfObj)],
      entry: (Int, (Int, PdfObj))): Option[PdfImage] =
    buildXObjectCore(bytes, objs, entry).map { img =>
      smaskRefRe.findFirstMatchIn(entry._2._2.dict) match {
        case None => img
        case Some(_) if img.codec != "raw" => img
        case Some(m) =>
          val mask = objs.get(m.group(1).toInt)
            .flatMap(e => buildXObjectCore(bytes, objs, (m.group(1).toInt, e)))
          mask match {
            case Some(mk) if mk.codec == "raw" &&
                components(mk.colorSpace) == 1 &&
                mk.data.length == mk.width.toLong * mk.height =>
              compositeSMask(img, mk)
            case _ => img.copy(codec = "opaque")
          }
      }
    }

  /** Composite `img` onto a white backdrop through gray mask `mk`
    * (nearest-neighbor sampled when dims differ — §11.6.5.3 allows
    * any mask size): per component,
    * `out = (v·m + 255·(255−m) + 127) / 255` in integer arithmetic —
    * exact, no floats, replayable in SQL (the q357 oracle). */
  private def compositeSMask(img: PdfImage, mk: PdfImage): PdfImage = {
    val comps = components(img.colorSpace)
    if (comps < 1 ||
        img.data.length != img.width.toLong * img.height * comps)
      return img.copy(codec = "opaque")
    val out = new Array[Byte](img.data.length)
    var y = 0
    while (y < img.height) {
      val my = y * mk.height / img.height
      var x = 0
      while (x < img.width) {
        val mx = x * mk.width / img.width
        val m = mk.data(my * mk.width + mx) & 0xff
        val base = (y * img.width + x) * comps
        var c = 0
        while (c < comps) {
          val v = img.data(base + c) & 0xff
          out(base + c) = ((v * m + 255 * (255 - m) + 127) / 255).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    img.copy(data = out)
  }

  private def buildXObjectCore(
      bytes: Array[Byte],
      objs: Map[Int, (Int, PdfObj)],
      entry: (Int, (Int, PdfObj))): Option[PdfImage] = {
    val (num, (_, o)) = entry

    // /Width 16  (direct)  or  /Width 9 0 R  (indirect: the referenced
    // object's body is the integer). Image dicts are top-level stream
    // dicts, but writers do emit indirect dims.
    def intEntry(dict: String, key: String): Option[Int] = {
      val direct = (key + """\s+(-?\d{1,9})(?!\d)(?!\s*\d+\s+R)""").r
      val indirect = (key + """\s+(\d{1,9})\s+\d+\s+R(?![A-Za-z0-9])""").r
      direct.findFirstMatchIn(dict).map(_.group(1).toInt).orElse(
        indirect.findFirstMatchIn(dict).flatMap { m =>
          objs.get(m.group(1).toInt)
            .flatMap(e => e._2.dict.trim.toIntOption)
        })
    }

    // /ICCBased m 0 R resolves to its device ALTERNATE by component
    // count (/N — §8.6.5.5: the profile payload itself is never
    // needed for sample layout): writers wrap plain device spaces in
    // ICCBased constantly, and treating them as opaque would strand
    // the most common real-PDF colorspace shape
    def iccAlternate(body: String): Option[String] =
      iccBodyRe.findFirstMatchIn(body).flatMap { m =>
        objs.get(m.group(1).toInt).flatMap(e =>
          iccNRe.findFirstMatchIn(e._2.dict).map(_.group(1).toInt))
      }.collect {
        case 1 => "DeviceGray"
        case 3 => "DeviceRGB"
        case 4 => "DeviceCMYK"
      }

    def colorSpaceOf(dict: String): String =
      nameAfter.findFirstMatchIn(dict).map(_.group(1)).orElse(
        iccDirectRe.findFirstMatchIn(dict).map(_.matched)
          .flatMap(iccAlternate)).orElse(
        refAfter.findFirstMatchIn(dict).flatMap { m =>
          objs.get(m.group(1).toInt).flatMap { e =>
            iccAlternate(e._2.dict).orElse(
              firstName.findFirstMatchIn(e._2.dict).map(_.group(1)))
          }
        }).getOrElse("")

    {
        val w = intEntry(o.dict, "/Width").getOrElse(0)
        val h = intEntry(o.dict, "/Height").getOrElse(0)
        val bpc = intEntry(o.dict, "/BitsPerComponent").getOrElse(
          if (o.dict.contains("/ImageMask")) 1 else 8)
        val cs = colorSpaceOf(o.dict)
        if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) None
        else {
          val filters = filterList(o.dict)
          val rasterIdx = filters.indexWhere(RasterCodecs.contains)
          if (rasterIdx >= 0) {
            val tag = RasterCodecs(filters(rasterIdx))
            transportDecode(o, bytes, filters.take(rasterIdx), o.dict).map { p =>
              // CCITT G4 (/K < 0) has a pure-JVM decoder: scans become
              // 8-bit gray luma (255 white / 0 black) and join the
              // perceptual-hash path; G3 (/K >= 0) and a /Columns that
              // contradicts /Width stay payload-passthrough
              val k = intEntry(o.dict, "/K").getOrElse(0)
              val cols = intEntry(o.dict, "/Columns").getOrElse(1728)
              val rows = intEntry(o.dict, "/Rows").getOrElse(h)
              val bilevel = tag match {
                case "ccitt" if cols == w && rows == h =>
                  if (k < 0) CcittG4.decode(p, cols, rows,
                    byteAlign = boolParm(o.dict, "EncodedByteAlign"))
                  else CcittG4.decodeG3(p, cols, rows, k,
                    endOfLine = boolParm(o.dict, "EndOfLine"),
                    byteAlign = boolParm(o.dict, "EncodedByteAlign"))
                case "jbig2" =>
                  // /JBIG2Globals (shared symbol dictionaries in
                  // their own stream object) walk first; the
                  // embedded stream's text regions refer back
                  val globals = jbig2GlobalsRe.findFirstMatchIn(o.dict)
                    .flatMap(m => objs.get(m.group(1).toInt))
                    .flatMap(_._2.data)
                    .getOrElse(Array.empty[Byte])
                  Jbig2.decodeLuma(p, globals).collect {
                    case (dw, dh, px) if dw == w && dh == h => px
                  }
                case _ => None
              }
              bilevel match {
                case Some(px) =>
                  val (codec, d) = withDecode(o.dict, px, ok = true,
                    xorInvert = tag == "ccitt" && blackIs1(o.dict))
                  PdfImage(num, w, h, 8, "DeviceGray", codec, d)
                case None if tag == "jpx" =>
                  // payload stays passthrough (no JPEG 2000 entropy
                  // decoder), but the JP2/codestream HEADER is
                  // authoritative for metadata (PDF 32000-1 §7.4.9:
                  // the codestream defines the image parameters;
                  // /ColorSpace is optional for JPX) — audits see
                  // real dims even when the dict lies or omits them
                  Jp2Header.parse(p) match {
                    case Some(m) =>
                      val csName =
                        if (cs.nonEmpty) cs
                        else m.components match {
                          case 1 => "DeviceGray"
                          case 3 => "DeviceRGB"
                          case 4 => "DeviceCMYK"
                          case _ => ""
                        }
                      PdfImage(num, m.width, m.height, m.bpc, csName, tag, p)
                    case None => PdfImage(num, w, h, bpc, cs, tag, p)
                  }
                case None => PdfImage(num, w, h, bpc, cs, tag, p)
              }
            }
          }
          else
            o.data.map(px => finishUncoded(o.dict, px, num, w, h, bpc, cs, Some(objs)))
        }
    }
  }

  /** Finish an UNCODED (post-transport-filter) raster into a
    * [[PdfImage]] — ONE policy for both carriers (XObject and
    * inline):
    *
    *  - 8-bit Gray/RGB/CMYK of the right length → `raw` under the
    *    [[withDecode]] sample map (the original fast path, no copy);
    *  - **1/2/4-bit samples expand to 8-bit** (`v · 255 / (2^bpc−1)`,
    *    rows byte-aligned per PDF 32000-1 §8.9.5.2) — the single most
    *    common scan shape after G4 (TIFF→PDF converters emit 1-bit
    *    Flate bilevel), previously stranded as `opaque` with neither
    *    a dHash nor an OCR rendition (r15 top-next);
    *  - **`/Indexed` palettes resolve through their base** (§8.6.6.3:
    *    base Gray/RGB/CMYK; hex-string, literal-string, or
    *    stream-object lookup; 1/2/4/8-bit indices, out-of-range
    *    clamped to hival per spec) — emitted as 8-bit `raw` in the
    *    BASE colorspace;
    *  - **single-colorant `/Separation` / `/DeviceN` tints map
    *    through their transform function** (§8.6.6.4-5, function
    *    types 0/2/3 — [[PdfFunction]]) into the device alternate,
    *    emitted as 8-bit `raw` in the ALTERNATE space (r17);
    *  - anything else stays `opaque`, never wrong pixels.
    */
  private def finishUncoded(
      dict: String, px: Array[Byte], objNum: Int, w: Int, h: Int,
      bpc: Int, cs: String,
      objs: Option[Map[Int, (Int, PdfObj)]]): PdfImage = {
    val comps = components(cs)
    if (comps > 0 && bpc == 8 && px.length == w.toLong * h * comps) {
      val (codec, d) = withDecode(dict, px, ok = true)
      PdfImage(objNum, w, h, bpc, cs, codec, d)
    } else if (comps > 0 && bpc == 16 &&
        px.length == w.toLong * h * comps * 2) {
      // 16-bit big-endian samples (§8.9.5.1 allows bpc 16): keep the
      // high byte — the exact v >> 8 downsample; luma pooling and OCR
      // renditions are 8-bit surfaces. An exotic /Decode declines
      // with the ORIGINAL bytes and depth (an opaque must never lie
      // about its layout — review finding).
      val out = new Array[Byte](w * h * comps)
      var i = 0
      while (i < out.length) { out(i) = px(i * 2); i += 1 }
      val (codec, d) = withDecode(dict, out, ok = true)
      if (codec == "raw") PdfImage(objNum, w, h, 8, cs, codec, d)
      else PdfImage(objNum, w, h, bpc, cs, "opaque", px)
    } else if (comps > 0 && (bpc == 1 || bpc == 2 || bpc == 4)) {
      unpackSamples(px, w, h, bpc, comps) match {
        case Some(vals) =>
          val maxv = (1 << bpc) - 1
          val expanded = new Array[Byte](vals.length)
          var i = 0
          while (i < vals.length) {
            expanded(i) = (vals(i) * 255 / maxv).toByte
            i += 1
          }
          val (codec, d) = withDecode(dict, expanded, ok = true)
          // opaque (exotic /Decode) carries the ORIGINAL packed bytes
          // and TRUE depth: downstream length checks (the inline
          // false-EI validator) and any future consumer reason about
          // the declared layout, not the rejected expansion
          if (codec == "raw") PdfImage(objNum, w, h, 8, cs, codec, d)
          else PdfImage(objNum, w, h, bpc, cs, "opaque", px)
        case None => PdfImage(objNum, w, h, bpc, cs, "opaque", px)
      }
    } else parseLab(dict, objs) match {
      case Some(lab) if bpc == 8 && px.length == w.toLong * h * 3 &&
          decodeArrRe.findFirstIn(dict).isEmpty =>
        // closed-form CIE L*a*b* (§8.6.5.4) → linear sRGB, emitted as
        // 8-bit DeviceRGB; an explicit /Decode remaps the Lab ranges
        // — out of subset, decline
        PdfImage(objNum, w, h, 8, "DeviceRGB", "raw", labToRgb(px, lab))
      case Some(_) => PdfImage(objNum, w, h, bpc, cs, "opaque", px)
      case None => parseSepDeviceN(dict, objs) match {
      case Some((alt, nInks, fn)) if bpc == 8 &&
          px.length == w.toLong * h * nInks &&
          decodeArrRe.findFirstIn(dict).isEmpty =>
        // /Separation or /DeviceN: per-pixel ink tuples map through
        // the tint transform into the device alternate — emitted as
        // 8-bit raw in the ALTERNATE space (spot-color scans
        // previously stranded as opaque). An explicit /Decode remaps
        // the tint domain, and a calculator fault poisons the map —
        // both decline below, never wrong pixels.
        tintToAlternate(px, fn, components(alt)) match {
          case null => PdfImage(objNum, w, h, bpc, cs, "opaque", px)
          case out => PdfImage(objNum, w, h, 8, alt, "raw", out)
        }
      case Some(_) => PdfImage(objNum, w, h, bpc, cs, "opaque", px)
      case None => parseIndexed(dict, objs) match {
      case Some((base, hival, lookup)) =>
        val bcomps = components(base)
        val okDecode = indexedDecodeOk(dict, bpc)
        unpackSamples(px, w, h, bpc, 1) match {
          case Some(idxs) if bcomps > 0 && okDecode &&
              lookup.length >= (hival + 1) * bcomps =>
            val out = new Array[Byte](idxs.length * bcomps)
            var i = 0
            while (i < idxs.length) {
              val idx = math.min(idxs(i), hival)   // §8.6.6.3 clamp
              var c = 0
              while (c < bcomps) {
                out(i * bcomps + c) = lookup(idx * bcomps + c)
                c += 1
              }
              i += 1
            }
            PdfImage(objNum, w, h, 8, base, "raw", out)
          case _ => PdfImage(objNum, w, h, bpc, cs, "opaque", px)
        }
      case None => PdfImage(objNum, w, h, bpc, cs, "opaque", px)
      }
      }
    }
  }

  // /ColorSpace [/Separation /Ink alt fn] or [/DeviceN [/inks…] alt
  // fn] — direct array, or the whole array behind an object
  // reference. The device alternate must be BY NAME; the
  // tint-transform function is an indirect object
  // [[PdfFunction.parse]] admits (types 0/2/3 for one colorant,
  // type 4 for any ink count ≤ 8 — r17). The function's input arity
  // must equal the ink count and its output arity the alternate's.
  private val sepDirectRe =
    """/(?:CS(?![A-Za-z])|ColorSpace(?![A-Za-z0-9]))\s*\[\s*/Separation(?![A-Za-z0-9])\s*/[^\s/\]\[()<>]+\s*/([A-Za-z0-9]+)\s+(\d{1,9})\s+\d+\s+R\s*\]""".r
  private val sepBodyRe =
    """\[\s*/Separation(?![A-Za-z0-9])\s*/[^\s/\]\[()<>]+\s*/([A-Za-z0-9]+)\s+(\d{1,9})\s+\d+\s+R\s*\]""".r
  private val devnDirectRe =
    """/(?:CS(?![A-Za-z])|ColorSpace(?![A-Za-z0-9]))\s*\[\s*/DeviceN(?![A-Za-z0-9])\s*\[((?:\s*/[^\s/\]\[()<>]+)+)\s*\]\s*/([A-Za-z0-9]+)\s+(\d{1,9})\s+\d+\s+R\s*\]""".r
  private val devnBodyRe =
    """\[\s*/DeviceN(?![A-Za-z0-9])\s*\[((?:\s*/[^\s/\]\[()<>]+)+)\s*\]\s*/([A-Za-z0-9]+)\s+(\d{1,9})\s+\d+\s+R\s*\]""".r
  private val inkNameRe = """/[^\s/\]\[()<>]+""".r

  /** Parse a `/Separation` / `/DeviceN` colorspace: (device
    * alternate name, ink count, tint-transform function). */
  private def parseSepDeviceN(
      dict: String,
      objs: Option[Map[Int, (Int, PdfObj)]])
      : Option[(String, Int, PdfFunction.Fn)] = {
    def sep(s: String): Option[(String, Int, Int)] =
      sepBodyRe.findFirstMatchIn(s).map(m =>
        (m.group(1), 1, m.group(2).toInt))
    def devn(s: String): Option[(String, Int, Int)] =
      devnBodyRe.findFirstMatchIn(s).map(m =>
        (m.group(2), inkNameRe.findAllIn(m.group(1)).size, m.group(3).toInt))
    val hit: Option[(String, Int, Int)] =
      sepDirectRe.findFirstMatchIn(dict).map(m =>
        (m.group(1), 1, m.group(2).toInt))
        .orElse(devnDirectRe.findFirstMatchIn(dict).map(m =>
          (m.group(2), inkNameRe.findAllIn(m.group(1)).size, m.group(3).toInt)))
        .orElse(objs.flatMap(os => refAfter.findFirstMatchIn(dict).flatMap { m =>
          os.get(m.group(1).toInt).flatMap(e =>
            sep(e._2.dict).orElse(devn(e._2.dict)))
        }))
    hit.flatMap { case (alt, nInks, fnRef) =>
      if (components(alt) <= 0 || nInks < 1 || nInks > 8) None
      else objs.flatMap(_.get(fnRef))
        .flatMap(e => PdfFunction.parse(e._2, objs.get))
        .filter(fn => fn.nOut == components(alt) && fn.nIn == nInks)
        .map(fn => (alt, nInks, fn))
    }
  }

  /** 8-bit tint samples → 8-bit alternate-space bytes through the
    * tint transform. One colorant evaluates the 256 possible tints
    * ONCE into a LUT; multi-ink DeviceN memoizes per distinct ink
    * tuple (pages carry few distinct colors — the map is bounded by
    * the pixel count and keyed by the packed ink bytes). Sample
    * decode is the function DOMAIN (§8.9.5.2 default for Separation/
    * DeviceN): `t_i = dom_2i + v_i · (dom_2i+1 − dom_2i) / 255`;
    * output components clamp to [0, 1] and round (`⌊255·c + 0.5⌋`) —
    * every step plain IEEE doubles, replayed bit-for-bit by the
    * q361/q367 oracles. Null (calculator fault) → null out — the
    * caller declines to opaque. */
  private def tintToAlternate(
      px: Array[Byte], fn: PdfFunction.Fn, bcomps: Int): Array[Byte] = {
    val nIn = fn.nIn
    def evalBytes(vs: Array[Int]): Array[Byte] = {
      val ts = new Array[Double](nIn)
      var i = 0
      while (i < nIn) {
        ts(i) = fn.domain(2 * i) +
          vs(i) * (fn.domain(2 * i + 1) - fn.domain(2 * i)) / 255.0
        i += 1
      }
      val y = fn(ts)
      if (y == null) return null
      val out = new Array[Byte](bcomps)
      var c = 0
      while (c < bcomps) {
        val cv = if (y(c) < 0.0) 0.0 else if (y(c) > 1.0) 1.0 else y(c)
        out(c) = math.floor(255.0 * cv + 0.5).toInt.toByte
        c += 1
      }
      out
    }
    if (nIn == 1) {
      val lut = new Array[Byte](256 * bcomps)
      var v = 0
      while (v < 256) {
        val b = evalBytes(Array(v))
        if (b == null) return null
        System.arraycopy(b, 0, lut, v * bcomps, bcomps)
        v += 1
      }
      val out = new Array[Byte](px.length * bcomps)
      var i = 0
      while (i < px.length) {
        System.arraycopy(lut, (px(i) & 0xff) * bcomps, out, i * bcomps, bcomps)
        i += 1
      }
      out
    } else {
      val nPx = px.length / nIn
      val out = new Array[Byte](nPx * bcomps)
      val memo = new java.util.HashMap[Long, Array[Byte]]()
      val vs = new Array[Int](nIn)
      var i = 0
      while (i < nPx) {
        var key = 0L
        var c = 0
        while (c < nIn) {
          vs(c) = px(i * nIn + c) & 0xff
          key = (key << 8) | vs(c)
          c += 1
        }
        var b = memo.get(key)
        if (b == null) {
          b = evalBytes(vs)
          if (b == null) return null
          // a noisy many-ink image can carry millions of distinct
          // tuples: past the cap, evaluate directly (CPU for memory —
          // the map must never grow toward the pixel count)
          if (memo.size < 65536) memo.put(key, b)
        }
        System.arraycopy(b, 0, out, i * bcomps, bcomps)
        i += 1
      }
      out
    }
  }

  // /ColorSpace [/Lab << /WhitePoint [...] /Range [...] >>] — direct
  // array, or the whole array behind an object reference
  private val labDirectRe =
    """/(?:CS(?![A-Za-z])|ColorSpace(?![A-Za-z0-9]))\s*\[\s*/Lab(?![A-Za-z0-9])\s*<<([\s\S]*?)>>\s*\]""".r
  private val labBodyRe =
    """\[\s*/Lab(?![A-Za-z0-9])\s*<<([\s\S]*?)>>\s*\]""".r
  private val wpRe = """/WhitePoint\s*\[([^\]]*)\]""".r
  private val rangeArrRe = """/Range\s*\[([^\]]*)\]""".r

  /** Lab colorspace parameters: (Xw, Yw, Zw, amin, amax, bmin, bmax).
    * `/WhitePoint` is required (§8.6.5.4; Yw must be 1 — enforced
    * loosely as > 0); `/Range` defaults to [−100 100 −100 100]. */
  private def parseLab(
      dict: String,
      objs: Option[Map[Int, (Int, PdfObj)]])
      : Option[(Double, Double, Double, Double, Double, Double, Double)] = {
    val body: Option[String] =
      labDirectRe.findFirstMatchIn(dict).map(_.group(1)).orElse(
        objs.flatMap(os => refAfter.findFirstMatchIn(dict).flatMap { m =>
          os.get(m.group(1).toInt).flatMap(e =>
            labBodyRe.findFirstMatchIn(e._2.dict).map(_.group(1)))
        }))
    body.flatMap { b =>
      val wp = wpRe.findFirstMatchIn(b)
        .map(m => numTok.findAllIn(m.group(1)).map(_.toDouble).toSeq)
      val rng = rangeArrRe.findFirstMatchIn(b)
        .map(m => numTok.findAllIn(m.group(1)).map(_.toDouble).toSeq)
        .getOrElse(Seq(-100.0, 100.0, -100.0, 100.0))
      wp match {
        case Some(Seq(xw, yw, zw))
            if xw > 0 && yw > 0 && zw > 0 && rng.length == 4 &&
              rng(0) <= rng(1) && rng(2) <= rng(3) =>
          Some((xw, yw, zw, rng(0), rng(1), rng(2), rng(3)))
        case _ => None
      }
    }
  }

  /** 8-bit Lab samples → 8-bit linear-sRGB bytes, closed form:
    * sample decode per the Lab defaults (L ∈ [0,100], a/b ∈ Range),
    * L*a*b* → XYZ per §8.6.5.4, XYZ → LINEAR sRGB (IEC 61966-2-1
    * matrix), clamp, `round(255·v)`. The display gamma step is
    * intentionally omitted: the consumers are the dHash (compares
    * luminance GRADIENTS — monotone under the linear map) and OCR
    * binarization, and keeping the whole chain in +,−,×,÷ IEEE
    * arithmetic makes the bytes exactly replayable in SQL (the q356
    * oracle) — `pow` is the one step with no cross-engine bit
    * guarantee. */
  private def labToRgb(
      px: Array[Byte],
      p: (Double, Double, Double, Double, Double, Double, Double)): Array[Byte] = {
    val (xw, yw, zw, amin, amax, bmin, bmax) = p
    def g(t: Double): Double =
      if (t >= 6.0 / 29.0) t * t * t else (108.0 / 841.0) * (t - 4.0 / 29.0)
    def byteOf(v: Double): Byte = {
      val c = if (v < 0.0) 0.0 else if (v > 1.0) 1.0 else v
      math.floor(255.0 * c + 0.5).toInt.toByte
    }
    val out = new Array[Byte](px.length)
    var i = 0
    while (i < px.length) {
      val l = (px(i) & 0xff) * 100.0 / 255.0
      val a = amin + (px(i + 1) & 0xff) * (amax - amin) / 255.0
      val bb = bmin + (px(i + 2) & 0xff) * (bmax - bmin) / 255.0
      val fy = (l + 16.0) / 116.0
      val fx = fy + a / 500.0
      val fz = fy - bb / 200.0
      val x = xw * g(fx)
      val y = yw * g(fy)
      val z = zw * g(fz)
      out(i) = byteOf(3.2406 * x - 1.5372 * y - 0.4986 * z)
      out(i + 1) = byteOf(-0.9689 * x + 1.8758 * y + 0.0415 * z)
      out(i + 2) = byteOf(0.0557 * x - 0.204 * y + 1.057 * z)
      i += 3
    }
    out
  }

  /** Packed row-aligned samples → per-sample ints (PDF 32000-1
    * §8.9.5.2: each row starts on a byte boundary). None on a length
    * mismatch or an unsupported depth. */
  private def unpackSamples(
      data: Array[Byte], w: Int, h: Int, bpc: Int,
      comps: Int): Option[Array[Int]] = {
    if (comps <= 0 || (bpc != 1 && bpc != 2 && bpc != 4 && bpc != 8)) return None
    val rowBytes = ((w.toLong * comps * bpc + 7) / 8).toInt
    if (data.length != rowBytes.toLong * h) return None
    val perRow = w * comps
    val maxv = (1 << bpc) - 1
    val out = new Array[Int](perRow * h)
    var y = 0
    while (y < h) {
      val base = y * rowBytes
      var i = 0
      while (i < perRow) {
        val bitPos = i * bpc
        val b = data(base + (bitPos >> 3)) & 0xff
        out(y * perRow + i) = (b >> (8 - bpc - (bitPos & 7))) & maxv
        i += 1
      }
      y += 1
    }
    Some(out)
  }

  // /ColorSpace [/Indexed base hival lookup] — direct array (XObject
  // or inline /CS), or the whole array behind an object reference
  private val indexedRe =
    """/(?:CS(?![A-Za-z])|ColorSpace(?![A-Za-z0-9]))\s*\[\s*/(?:Indexed|I)(?![A-Za-z0-9])([\s\S]*?)\]""".r
  private val indexedBodyRe =
    """\[\s*/(?:Indexed|I)(?![A-Za-z0-9])([\s\S]*?)\]""".r
  private val idxPartsName =
    """^\s*/([A-Za-z0-9]+)\s+(\d{1,7})\s+([\s\S]*)$""".r
  private val idxPartsRef =
    """^\s*(\d{1,9})\s+\d+\s+R\s+(\d{1,7})\s+([\s\S]*)$""".r
  private val hexStrRe = """^\s*<([0-9A-Fa-f\s]*)>""".r
  private val litStrRe = """^\s*\(""".r
  private val lookupRefRe = """^\s*(\d{1,9})\s+\d+\s+R""".r

  /** Parse an `/Indexed` colorspace: (base name, hival, lookup
    * bytes). Lookup forms: hex string, literal string (with the
    * standard escapes), or a stream/string OBJECT reference (XObject
    * carrier only — inline dicts cannot hold indirect refs). */
  private def parseIndexed(
      dict: String,
      objs: Option[Map[Int, (Int, PdfObj)]]): Option[(String, Int, Array[Byte])] = {
    val body: Option[String] =
      indexedRe.findFirstMatchIn(dict).map(_.group(1)).orElse(
        objs.flatMap(os => refAfter.findFirstMatchIn(dict).flatMap { m =>
          os.get(m.group(1).toInt).flatMap(e =>
            indexedBodyRe.findFirstMatchIn(e._2.dict).map(_.group(1)))
        }))
    body.flatMap { b =>
      val parsed: Option[(String, Int, String)] = b match {
        case idxPartsName(name, hival, rest) =>
          Some((name, hival.toInt, rest))
        case idxPartsRef(ref, hival, rest) =>
          objs.flatMap(_.get(ref.toInt)).flatMap(e =>
            firstName.findFirstMatchIn(e._2.dict).map(_.group(1)))
            .map(n => (n, hival.toInt, rest))
        case _ => None
      }
      parsed.flatMap { case (base, hival, rest) =>
        if (hival < 0 || hival > 255) None
        else lookupBytes(rest, objs).map(lk => (base, hival, lk))
      }
    }
  }

  private def lookupBytes(
      rest: String,
      objs: Option[Map[Int, (Int, PdfObj)]]): Option[Array[Byte]] =
    hexStrRe.findFirstMatchIn(rest) match {
      case Some(m) =>
        val hex = m.group(1).filterNot(_.isWhitespace)
        val padded = if (hex.length % 2 == 1) hex + "0" else hex
        Some(padded.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
      case None =>
        if (litStrRe.findFirstIn(rest).isDefined)
          literalString(rest.dropWhile(_ != '('))
        else lookupRefRe.findFirstMatchIn(rest).flatMap { m =>
          objs.flatMap(_.get(m.group(1).toInt)).flatMap { e =>
            e._2.data.orElse(
              hexStrRe.findFirstMatchIn(e._2.dict).map { hm =>
                val hex = hm.group(1).filterNot(_.isWhitespace)
                val p = if (hex.length % 2 == 1) hex + "0" else hex
                p.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
              })
          }
        }
    }

  /** PDF literal string `(...)` → bytes, standard escapes
    * (§7.3.4.2); None when unterminated. */
  private def literalString(s: String): Option[Array[Byte]] = {
    if (s.isEmpty || s.charAt(0) != '(') return None
    val out = new java.io.ByteArrayOutputStream()
    var i = 1
    var depth = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        val n = s.charAt(i + 1)
        n match {
          case 'n' => out.write('\n'); i += 2
          case 'r' => out.write('\r'); i += 2
          case 't' => out.write('\t'); i += 2
          case 'b' => out.write('\b'); i += 2
          case 'f' => out.write('\f'); i += 2
          // backslash-EOL is a LINE CONTINUATION (§7.3.4.2): the
          // split contributes no bytes — writers wrap long palette
          // strings this way (review finding)
          case '\r' =>
            i += 2
            if (i < s.length && s.charAt(i) == '\n') i += 1
          case '\n' => i += 2
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < s.length &&
                s.charAt(i) >= '0' && s.charAt(i) <= '7') {
              v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
            }
            out.write(v & 0xff)
          case other => out.write(other.toInt & 0xff); i += 2
        }
      } else if (c == '(') { depth += 1; out.write(c.toInt); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth == 0) return Some(out.toByteArray)
        out.write(c.toInt); i += 1
      } else if (c == '\r') {
        // an unescaped EOL in a literal string reads as 0x0A,
        // whatever form it took in the file (§7.3.4.2)
        out.write('\n'); i += 1
        if (i < s.length && s.charAt(i) == '\n') i += 1
      } else { out.write(c.toInt & 0xff); i += 1 }
    }
    None
  }

  /** `/Decode` gate for Indexed rasters: absent, or exactly the
    * default `[0 (2^bpc − 1)]` identity — anything else declines to
    * `opaque` (index remapping has no byte-exact shortcut). */
  private def indexedDecodeOk(dict: String, bpc: Int): Boolean =
    decodeArrRe.findFirstMatchIn(dict) match {
      case None => true
      case Some(m) =>
        val nums = numTok.findAllIn(m.group(1)).map(_.toDouble).toSeq
        nums == Seq(0.0, ((1 << bpc) - 1).toDouble)
    }

  // ---- inline images (`BI <dict> ID <data> EI`, PDF 32000-1 §8.9.7)
  // — the second raster carrier: small images embedded directly in
  // content streams with abbreviated keys. objNum is NEGATIVE
  // (-1, -2, … in document order) to mark the carrier.

  private val csNames = Map(
    "G" -> "DeviceGray", "DeviceGray" -> "DeviceGray",
    "RGB" -> "DeviceRGB", "DeviceRGB" -> "DeviceRGB",
    "CMYK" -> "DeviceCMYK", "DeviceCMYK" -> "DeviceCMYK")
  private val inlineFilterRe =
    """/(?:F(?![A-Za-z])|Filter(?![A-Za-z0-9]))\s*(?:\[([^\]]*)\]|/([A-Za-z0-9]+))""".r
  private val inlineCsRe =
    """/(?:CS(?![A-Za-z])|ColorSpace(?![A-Za-z0-9]))\s*/([A-Za-z0-9]+)""".r
  private val inlineDpRe =
    """/(?:DP(?![A-Za-z])|DecodeParms(?![A-Za-z0-9]))\s*<<([^>]*)>>""".r
  private val nameToks = """/([A-Za-z0-9]+)""".r

  private def inlineInt(dict: String, keys: Seq[String]): Option[Int] =
    keys.iterator.flatMap { k =>
      (s"""/$k(?![A-Za-z0-9])\\s+(-?\\d{1,9})(?!\\d)""").r
        .findFirstMatchIn(dict).map(_.group(1).toInt)
    }.nextOption()

  private def isRegular(c: Char): Boolean =
    !c.isWhitespace && !"()<>[]{}/%".contains(c)

  private val pageType = """/Type\s*/Page(?![A-Za-z0-9])""".r
  private val contentsRef = """/Contents\s+(\d{1,9})\s+\d+\s+R""".r
  private val contentsArr = """/Contents\s*\[([^\]]*)\]""".r
  private val refTok = """(\d{1,9})\s+\d+\s+R""".r

  /** Content streams actually referenced by page `/Contents` — the
    * BI scan must not run over arbitrary decodable streams (raw
    * image pixels, CMaps, ObjStm payloads), where planted byte
    * patterns could fabricate phantom inline images. */
  private def pageContentStreams(
      objs: Map[Int, (Int, PdfObj)]): Seq[String] = {
    val pages = objs.toSeq
      .filter { case (_, (_, o)) => pageType.findFirstIn(o.dict).isDefined }
      .sortBy(_._2._1)
    val refs = pages.flatMap { case (_, (_, o)) =>
      contentsArr.findFirstMatchIn(o.dict) match {
        case Some(m) => refTok.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toSeq
        case None =>
          contentsRef.findFirstMatchIn(o.dict).map(_.group(1).toInt).toSeq
      }
    }.distinct
    refs.flatMap(n => objs.get(n).flatMap(_._2.data))
      .map(new String(_, StandardCharsets.ISO_8859_1))
  }

  private def inlineImages(
      objs: Map[Int, (Int, PdfObj)],
      limit: Int = Int.MaxValue): Seq[PdfImage] = {
    val out = Seq.newBuilder[PdfImage]
    var found = 0
    var idx = 0
    for (cs <- pageContentStreams(objs) if found < limit) {
      var i = 0
      val n = cs.length
      while (i + 1 < n && found < limit) {
        val isBi = cs.charAt(i) == 'B' && cs.charAt(i + 1) == 'I' &&
          (i == 0 || !isRegular(cs.charAt(i - 1))) &&
          (i + 2 >= n || !isRegular(cs.charAt(i + 2)))
        if (!isBi) i += 1
        else {
          // the ID token ends the parameter dict
          var j = i + 2
          while (j + 1 < n &&
              !(cs.charAt(j) == 'I' && cs.charAt(j + 1) == 'D' &&
                !isRegular(cs.charAt(j - 1)) &&
                (j + 2 >= n || !isRegular(cs.charAt(j + 2))))) j += 1
          if (j + 1 >= n) { i = n }
          else {
            val dict = cs.substring(i + 2, j)
            val dataStart = j + 3             // ID + single separator byte
            idx += 1
            val end = parseInline(cs, dict, dataStart, -idx) match {
              case Some((img, e)) => out += img; found += 1; e
              case None =>
                // unparseable: fall back to the text side's EI scan
                var e = dataStart
                while (e + 1 < n &&
                    !(cs.charAt(e) == 'E' && cs.charAt(e + 1) == 'I' &&
                      cs.charAt(e - 1).isWhitespace &&
                      (e + 2 >= n || !isRegular(cs.charAt(e + 2))))) e += 1
                if (e + 1 >= n) n else e + 2
            }
            i = end
          }
        }
      }
    }
    out.result()
  }

  /** One inline image: (decoded PdfImage, index after EI). None when
    * the parameters don't parse — the caller skips past EI. */
  private def parseInline(
      cs: String, dict: String, dataStart: Int,
      objNum: Int): Option[(PdfImage, Int)] = {
    val n = cs.length
    val w = inlineInt(dict, Seq("W", "Width")).getOrElse(0)
    val h = inlineInt(dict, Seq("H", "Height")).getOrElse(0)
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
    val bpc = inlineInt(dict, Seq("BPC", "BitsPerComponent")).getOrElse(8)
    // an /Indexed colorspace ARRAY takes priority over the name form
    // (and over the gray default, which would mis-expand indices as
    // gray samples)
    val csName =
      if (indexedRe.findFirstIn(dict).isDefined) "Indexed"
      else inlineCsRe.findFirstMatchIn(dict).map(_.group(1))
        .map(nm => csNames.getOrElse(nm, nm)).getOrElse("DeviceGray")
    val comps = components(csName)
    val filters = inlineFilterRe.findFirstMatchIn(dict) match {
      case None => Seq.empty
      case Some(m) =>
        if (m.group(2) != null) Seq(m.group(2))
        else nameToks.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
    }
    val rasterIdx = filters.indexWhere(RasterCodecs.contains)

    val dp = inlineDpRe.findFirstMatchIn(dict).map(_.group(1))

    def decodePayload(payload: Array[Byte]): Option[PdfImage] = {
      if (rasterIdx >= 0) {
        val tag = RasterCodecs(filters(rasterIdx))
        applyCoats(payload, filters.take(rasterIdx), dict).flatMap { p =>
          // inline G4 faxes decode like their XObject cousins — and
          // for inline carriers a decode/framing check doubles as the
          // EI-candidate validator (a false EI truncates the payload)
          val k = dp.flatMap(inlineInt(_, Seq("K"))).getOrElse(0)
          val cols = dp.flatMap(inlineInt(_, Seq("Columns"))).getOrElse(1728)
          val rows = dp.flatMap(inlineInt(_, Seq("Rows"))).getOrElse(h)
          tag match {
            case "ccitt" if cols == w && rows == h =>
              val g3opts = dict + dp.getOrElse("")
              val bilevel =
                if (k < 0) CcittG4.decode(p, cols, rows,
                  byteAlign = boolParm(g3opts, "EncodedByteAlign"))
                else CcittG4.decodeG3(p, cols, rows, k,
                  endOfLine = boolParm(g3opts, "EndOfLine"),
                  byteAlign = boolParm(g3opts, "EncodedByteAlign"))
              bilevel.map { px =>
                val (codec, d) = withDecode(dict, px, ok = true,
                  xorInvert = blackIs1(dict) || dp.exists(blackIs1))
                PdfImage(objNum, w, h, 8, "DeviceGray", codec, d)
              }
            case "jbig2" =>
              Jbig2.decodeLuma(p).collect {
                case (dw, dh, px) if dw == w && dh == h =>
                  val (codec, d) = withDecode(dict, px, ok = true)
                  PdfImage(objNum, w, h, 8, "DeviceGray", codec, d)
              }
            case "dct" =>
              // SOI … EOI framing: a truncated JPEG loses its EOI
              val framed = p.length >= 4 &&
                (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 &&
                (p(p.length - 2) & 0xff) == 0xff && (p(p.length - 1) & 0xff) == 0xd9
              if (framed) Some(PdfImage(objNum, w, h, bpc, csName, tag, p))
              else None
            case _ => Some(PdfImage(objNum, w, h, bpc, csName, tag, p))
          }
        }
      } else {
        applyCoats(payload, filters, dict).flatMap { d0 =>
          // /DP predictor applies after the decompression stage
          val d = dp match {
            case None => Some(d0)
            case Some(parms) =>
              val pred = inlineInt(parms, Seq("Predictor")).getOrElse(1)
              if (pred <= 1) Some(d0)
              else if (bpc != 8) None
              else PdfTextPartitioner.unpredict(d0, pred,
                inlineInt(parms, Seq("Columns")).getOrElse(1),
                inlineInt(parms, Seq("Colors")).getOrElse(1))
          }
          // same finishing policy as the XObject carrier (8-bit pass,
          // sub-8-bit expansion, direct-array /Indexed — inline dicts
          // cannot hold indirect refs, so no object map)
          d.map(px => finishUncoded(dict, px, objNum, w, h, bpc, csName, None))
        }
      }
    }

    if (filters.isEmpty) {
      // raw data length is derivable (rows byte-aligned per spec):
      // no EI ambiguity, the payload is exactly len bytes. /Indexed
      // counts ONE index sample per pixel for the length.
      val lenComps =
        if (comps > 0) comps
        else if (parseIndexed(dict, None).isDefined) 1
        else return None
      val rowBytes = (w.toLong * lenComps * bpc + 7) / 8
      val len = rowBytes * h
      if (dataStart + len > n) return None
      var e = dataStart + len.toInt
      while (e < n && cs.charAt(e).isWhitespace) e += 1
      if (e + 1 >= n || cs.charAt(e) != 'E' || cs.charAt(e + 1) != 'I')
        return None
      val payload = cs.substring(dataStart, dataStart + len.toInt)
        .getBytes(StandardCharsets.ISO_8859_1)
      decodePayload(payload).map((_, e + 2))
    } else {
      // filtered payloads end at a whitespace-delimited EI — but the
      // BINARY payload may contain that byte pattern, so candidate
      // terminators are tried in order and validated by an actual
      // successful decode (a false EI truncates the stream and the
      // filter chain rejects it)
      var e = dataStart + 1
      var attempts = 0
      var found: Option[(PdfImage, Int)] = None
      while (found.isEmpty && attempts < 64 && e + 1 < n) {
        while (e + 1 < n &&
            !(cs.charAt(e) == 'E' && cs.charAt(e + 1) == 'I' &&
              cs.charAt(e - 1).isWhitespace &&
              (e + 2 >= n || !isRegular(cs.charAt(e + 2))))) e += 1
        if (e + 1 < n) {
          val payload = cs.substring(dataStart, e - 1)
            .getBytes(StandardCharsets.ISO_8859_1)
          // a known-colorspace decode of the TRUE payload has exactly
          // ceil(w·comps·bpc/8)·h packed bytes — an "opaque" of the
          // WRONG length there is a false EI; an opaque of the right
          // length is a real image under an exotic /Decode map and
          // must be kept (the 8-bit rule of earlier rounds,
          // generalized to the sub-8-bit depths the finisher now
          // expands)
          found = decodePayload(payload)
            .filter { im =>
              im.codec != "opaque" || comps <= 0 ||
                !Seq(1, 2, 4, 8).contains(bpc) ||
                im.data.length ==
                  ((w.toLong * comps * bpc + 7) / 8) * h
            }
            .map((_, e + 2))
          e += 1
          attempts += 1
        }
      }
      found
    }
  }

  /** Strip the transport coats AHEAD of a raster codec (e.g.
    * `/Filter [/ASCII85Decode /DCTDecode]` stores base85'd JPEG):
    * text-side stages only — a second raster name or an unknown
    * filter in the coat fails the image, never misparses it. The
    * `/Predictor` post-transform belongs to the decompression stage
    * of a RAW image; a raster payload is handed to its codec as-is.
    */
  private def transportDecode(
      o: PdfObj, bytes: Array[Byte], coats: Seq[String],
      dict: String): Option[Array[Byte]] =
    o.span.flatMap { case (ds, de) =>
      if (de <= ds) None
      else applyCoats(java.util.Arrays.copyOfRange(bytes, ds, de), coats, dict)
    }

  /** The image leg's decode cap is tighter than the text leg's: a
    * 64 MB payload is far beyond any raster this subset pools, and a
    * crafted deflate bomb must fail the IMAGE, never the task. */
  private val MaxImagePayloadBytes: Int = 1 << 26
  /** Dimension sanity gate (64M pixels) — shared by both carriers. */
  private val MaxPixels: Long = 1L << 26

  private def applyCoats(
      data: Array[Byte], coats: Seq[String], dict: String): Option[Array[Byte]] =
    PdfTextPartitioner.applyTextFilters(data, coats, dict, MaxImagePayloadBytes)

  private val decodeArrRe =
    """/(?:Decode(?![A-Za-z0-9])|D(?![A-Za-z0-9]))\s*\[([^\]]*)\]""".r
  // PDF reals may omit the integer part (".5", "-.5" — §7.3.3):
  // digits-only parsing would read "/Range [.5 1 ...]" as [5, 1, …]
  // and push WRONG values into the Lab conversion
  private val numTok = """-?(?:\d+(?:\.\d+)?|\.\d+)""".r

  /** The `/Decode` (inline: `/D`) sample map, reduced to the cases
    * with an exact byte transform: Some(false) = identity ([0 1] per
    * component, or absent), Some(true) = full inversion ([1 0] —
    * scanned faxes photograph this way constantly), None = any other
    * mapping (emit nothing rather than wrong pixels). */
  private def decodeInvert(dict: String): Option[Boolean] =
    decodeArrRe.findFirstMatchIn(dict) match {
      case None => Some(false)
      case Some(m) =>
        val nums = numTok.findAllIn(m.group(1)).map(_.toDouble).toSeq
        if (nums.isEmpty || nums.length % 2 != 0) None
        else {
          val pairs = nums.grouped(2).toSeq
          if (pairs.forall(p => p(0) == 0.0 && p(1) == 1.0)) Some(false)
          else if (pairs.forall(p => p(0) == 1.0 && p(1) == 0.0)) Some(true)
          else None
        }
    }

  private def invertBytes(px: Array[Byte]): Array[Byte] =
    px.map(b => (255 - (b & 0xff)).toByte)

  /** ONE policy for finishing decoded component bytes under the
    * sample map (five call sites — XObject raw/bilevel, inline
    * raw/G4/JBIG2 — must not drift): ("raw", px possibly inverted)
    * when the mapping is exactly representable and the byte count is
    * right, else ("opaque", px) — never dropped, never wrong pixels.
    * `xorInvert` folds a codec-level pre-inversion into the map
    * (CCITT `/BlackIs1 true`: black pixels are 1-samples, so the
    * common self-canceling pair BlackIs1=true + /Decode [1 0] comes
    * out upright). */
  private def withDecode(dict: String, px: Array[Byte], ok: Boolean,
      xorInvert: Boolean = false): (String, Array[Byte]) =
    decodeInvert(dict) match {
      case Some(inv) if ok =>
        ("raw", if (inv ^ xorInvert) invertBytes(px) else px)
      case _ => ("opaque", px)
    }

  private def blackIs1(dict: String): Boolean = boolParm(dict, "BlackIs1")

  private def boolParm(dict: String, key: String): Boolean =
    (s"/$key\\s+true").r.findFirstIn(dict).isDefined

  /** `grid`×`grid` luma cells of one image, row-major — the input of
    * [[graft.multimodal.ImageDedup.dHashOfGrid]]. Pixel (py, px)
    * pools into cell (py*grid/height, px*grid/width); a cell value is
    * `Σ(component sum) / (pixels · components)` — integer numerators
    * accumulate in any order, ONE double division, one float cast, so
    * the value is bit-replayable from the pixel formula alone (the
    * q348 oracle recomputes it in SQL).
    *
    * Pools `raw` gray/RGB directly; `dct` through an in-memory
    * `javax.imageio` decode (no disk cache — the r14 q202 lesson);
    * other codecs and sub-8-bit samples → None (no pure-JVM decoder:
    * the caller falls toward the OCR seam, never a fake hash).
    */
  def lumaGrid(img: PdfImage, grid: Int = 8): Option[Array[Float]] = {
    if (img.width < grid || img.height < grid) return None
    img.codec match {
      case "raw" =>
        val comps = components(img.colorSpace)
        if (comps != 1 && comps != 3) None
        else if (img.data.length != img.width.toLong * img.height * comps) None
        else {
          val num = new Array[Long](grid * grid)
          val cnt = new Array[Long](grid * grid)
          var py = 0
          while (py < img.height) {
            val cy = py * grid / img.height
            var px = 0
            while (px < img.width) {
              val cx = px * grid / img.width
              val base = (py * img.width + px) * comps
              var sv = 0L
              var c = 0
              while (c < comps) { sv += img.data(base + c) & 0xff; c += 1 }
              num(cy * grid + cx) += sv
              cnt(cy * grid + cx) += 1
              px += 1
            }
            py += 1
          }
          Some(Array.tabulate(grid * grid)(i =>
            (num(i).toDouble / (cnt(i) * comps)).toFloat))
        }
      case "dct" =>
        decodeJpeg(img.data).flatMap { bi =>
          val (w, h) = (bi.getWidth, bi.getHeight)
          if (w < grid || h < grid) None
          else {
            val num = new Array[Long](grid * grid)
            val cnt = new Array[Long](grid * grid)
            var py = 0
            while (py < h) {
              val cy = py * grid / h
              var px = 0
              while (px < w) {
                val cx = px * grid / w
                val rgb = bi.getRGB(px, py)
                num(cy * grid + cx) +=
                  ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                cnt(cy * grid + cx) += 1
                px += 1
              }
              py += 1
            }
            Some(Array.tabulate(grid * grid)(i =>
              (num(i).toDouble / (cnt(i) * 3L)).toFloat))
          }
        }
      case _ => None
    }
  }

  private def decodeJpeg(payload: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (payload == null || payload.length == 0) return None
    Multimodal.ImageIoCodec.init        // per-JVM: no disk-backed stream cache
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try Option(javax.imageio.ImageIO.read(iis))   // read() closes iis itself
    catch { case _: Exception => None }
    finally { try iis.close() catch { case _: java.io.IOException => () } }
  }
}

/** [[Multimodal.MediaCodec]] over WHOLE-PDF bytes: frame k is the
  * k-th embedded raster image, features are the first luma-poolable
  * image's grid — so `ImageDedup.withPHash(docs, "doc_id", "pdf",
  * PdfRasterCodec())` perceptually hashes a scanned-PDF corpus with
  * zero new plumbing, and `Multimodal.sampleFrames` walks a PDF's
  * images like video frames. Each call re-extracts (the codec
  * interface is stateless per blob); single-pass consumers that need
  * metadata AND hashes should use [[PdfImages.extract]] +
  * [[graft.multimodal.ImageDedup.dHashOfGrid]] directly.
  */
final case class PdfRasterCodec() extends Multimodal.MediaCodec {
  import graft.multimodal.Multimodal.MediaMeta

  private def firstPoolable(content: Array[Byte]): Option[(PdfImage, Array[Float])] =
    PdfImages.extract(content).iterator
      .flatMap(im => PdfImages.lumaGrid(im).map((im, _)))
      .nextOption()

  override def decodeMeta(content: Array[Byte]): MediaMeta =
    firstPoolable(content) match {
      case Some((im, _)) =>
        MediaMeta(im.width, im.height, content.length.toLong, valid = true)
      case None =>
        MediaMeta(-1, -1,
          if (content == null) 0L else content.length.toLong, valid = false)
    }

  override def features(content: Array[Byte], dim: Int): Array[Float] = {
    val grid = math.sqrt(dim.toDouble).toInt
    require(grid * grid == dim, s"PdfRasterCodec pools square grids, dim $dim")
    firstPoolable(content) match {
      case Some((_, g)) if g.length == dim => g
      case Some((im, _)) =>
        PdfImages.lumaGrid(im, grid).getOrElse(new Array[Float](dim))
      case None => new Array[Float](dim)
    }
  }

  override def frameCount(content: Array[Byte]): Int =
    PdfImages.extract(content).size

  override def frameAt(content: Array[Byte], idx: Int): Array[Byte] = {
    val imgs = PdfImages.extract(content)
    if (idx < 0 || idx >= imgs.size) Array.empty[Byte] else imgs(idx).data
  }

  /** Nearest-neighbor gray thumbnail of the first poolable image, in
    * [[Multimodal.FakeCodec]]'s GIMG container (magic | w | h |
    * payload) so downstream stages that speak GIMG can consume it;
    * empty for PDFs with no poolable image (bad media is data).
    */
  override def resize(content: Array[Byte], w: Int, h: Int): Array[Byte] = {
    if (w <= 0 || h <= 0) return Array.empty[Byte]
    val src = PdfImages.extract(content).iterator.flatMap { im =>
      val comps = PdfImages.components(im.colorSpace)
      if (im.codec == "raw" && (comps == 1 || comps == 3) &&
          im.data.length == im.width.toLong * im.height * comps)
        Some((im, comps))
      else None
    }.nextOption()
    src match {
      case None => Array.empty[Byte]
      case Some((im, comps)) =>
        val out = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          val sy = y * im.height / h
          var x = 0
          while (x < w) {
            val sx = x * im.width / w
            val base = (sy * im.width + sx) * comps
            var sv = 0
            var c = 0
            while (c < comps) { sv += im.data(base + c) & 0xff; c += 1 }
            out(y * w + x) = (sv / comps).toByte
            x += 1
          }
          y += 1
        }
        val bb = java.nio.ByteBuffer.allocate(12 + out.length)
        bb.put("GIMG".getBytes(StandardCharsets.US_ASCII))
        bb.putInt(w).putInt(h).put(out)
        bb.array()
    }
  }
}
