package graft.operators

import java.util.zip.{Adler32, CRC32, Deflater, Inflater}

/** REAL pure-JVM PNG codec (8-bit truecolor RGB) — the fourth real
  * media format after P6 images, P6-stream video, and RIFF/WAV audio,
  * and the first ENTROPY-CODED one: unlike H3 (a permanent vendor seam
  * — non-derivable numeric tables), nothing about PNG is missing from
  * this sandbox. DEFLATE lives in the JDK (`java.util.zip.Inflater` /
  * `Deflater`) and the container + filter algebra is fully specified by
  * the public spec (RFC 2083 / W3C PNG): an 8-byte signature, then
  * length-typed-CRC chunks (IHDR → IDAT* → IEND), the image data being
  * a zlib stream of `height` scanlines, each ONE filter-type byte
  * followed by `3·width` filtered sample bytes, reconstructed by one of
  * five per-byte predictors (None/Sub/Up/Average/Paeth).
  *
  * Decode contract matches the repo's other walkers ([[Multimodal.Wav]],
  * [[Multimodal.P6Stream]]): every declared length is bounds-checked
  * before use, every chunk CRC is verified, unknown CRITICAL chunks and
  * unsupported formats fail loudly — corrupt media must throw, never
  * yield plausible pixels. Supported profile: bit depth 8, color type 2
  * (truecolor RGB), compression 0, filter method 0, no interlace — the
  * profile the fixtures render; everything else is an explicit error
  * naming what it saw.
  *
  * The encoder exists for fixtures and round-trip proofs. It filters
  * each scanline with a CALLER-CHOSEN filter type (default: row % 5, so
  * every reconstruction path is exercised on any image ≥ 5 rows tall)
  * and compresses with the JDK deflater. Correctness never depends on
  * the compressed byte stream — only the decoded pixels are compared —
  * so deflater-version drift cannot break a test or an oracle.
  *
  * Scale shape: like every codec here, decode is row-local (bytes never
  * shuffle; only small feature rows leave the scan) — see
  * [[Multimodal.dHashPng]] / [[Multimodal.pngPixelStats]].
  */
object Png {

  /** Decoded image: RGB8 samples, row-major, 3·w·h bytes. */
  final case class Image(w: Int, h: Int, pixels: Array[Byte])

  private val Signature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  private def putBe32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >>> 24).toByte; b(o + 1) = (v >>> 16).toByte
    b(o + 2) = (v >>> 8).toByte; b(o + 3) = v.toByte
  }

  /** The Paeth predictor (RFC 2083 §6.6): the neighbor (left, up,
    * up-left) whose value is closest to `a + b − c`, ties resolved in
    * that order.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Parse a PNG blob to its RGB8 pixels. Throws on any deviation from
    * the supported profile, any failed CRC, any bounds violation, and
    * any trailing bytes after IEND.
    */
  def decode(bytes: Array[Byte]): Image = {
    require(bytes.length >= Signature.length + 12 &&
      Signature.indices.forall(i => bytes(i) == Signature(i)),
      "not a PNG (bad signature)")
    var o = Signature.length
    var w = -1; var h = -1
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    val crc = new CRC32
    while (!sawIend) {
      require(o + 8 <= bytes.length, s"truncated PNG: chunk header at $o")
      val len = be32(bytes, o)
      // a negative or over-declared length would read out of bounds or
      // walk backwards — the Wav/Ppm loud-failure contract
      require(len >= 0 && len <= bytes.length - o - 12,
        s"PNG chunk at $o declares $len bytes but only " +
          s"${bytes.length - o - 12} remain")
      val typ = new String(bytes, o + 4, 4, "US-ASCII")
      crc.reset()
      crc.update(bytes, o + 4, 4 + len)
      val declared = be32(bytes, o + 8 + len) & 0xffffffffL
      require(crc.getValue == declared,
        f"PNG chunk $typ at $o: CRC mismatch (computed ${crc.getValue}%08x, declared $declared%08x)")
      val payload = o + 8
      typ match {
        case "IHDR" =>
          require(!sawIhdr, "duplicate IHDR")
          require(len == 13, s"IHDR must be 13 bytes, got $len")
          w = be32(bytes, payload); h = be32(bytes, payload + 4)
          // bound the RAW buffer h·(3w+1) in Long arithmetic: a 1×7e8
          // image passes a 3wh-only check yet overflows Int at the
          // per-scanline filter byte, escaping as NegativeArraySize
          // instead of this named failure
          require(w > 0 && h > 0 &&
            h.toLong * (3L * w + 1) <= Int.MaxValue - 64,
            s"bad PNG dimensions: $w x $h")
          val bitDepth = bytes(payload + 8) & 0xff
          val colorType = bytes(payload + 9) & 0xff
          val compression = bytes(payload + 10) & 0xff
          val filterMethod = bytes(payload + 11) & 0xff
          val interlace = bytes(payload + 12) & 0xff
          require(bitDepth == 8, s"unsupported bit depth $bitDepth (only 8)")
          require(colorType == 2, s"unsupported color type $colorType (only 2 = truecolor RGB)")
          require(compression == 0, s"unsupported compression method $compression")
          require(filterMethod == 0, s"unsupported filter method $filterMethod")
          require(interlace == 0, s"interlaced PNG not supported")
          sawIhdr = true
        case "IDAT" =>
          require(sawIhdr, "IDAT before IHDR")
          idat.write(bytes, payload, len)
        case "IEND" =>
          require(len == 0, s"IEND must be empty, got $len bytes")
          sawIend = true
        case other =>
          // ancillary chunks (lowercase first letter, bit 5 set) are
          // skippable by spec; an UNKNOWN CRITICAL chunk means pixels
          // we cannot reconstruct — fail, never guess
          require((other.charAt(0) & 0x20) != 0,
            s"unknown critical chunk $other")
      }
      o = payload + len + 4
    }
    require(o == bytes.length, s"trailing bytes after IEND at $o")
    require(sawIhdr, "no IHDR chunk")

    // zlib-inflate the concatenated IDAT payloads to exactly
    // h scanlines of (1 filter byte + 3·w samples)
    val stride = 3 * w
    val raw = new Array[Byte](h * (stride + 1))
    val inf = new Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    while (got < raw.length && !inf.finished()) {
      val n = try inf.inflate(raw, got, raw.length - got)
      catch { case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"corrupt PNG deflate stream: ${e.getMessage}") }
      // forward progress or a NAMED reason — never spin (the walker rule)
      if (n == 0 && !inf.finished())
        throw new IllegalArgumentException(
          if (inf.needsDictionary()) "PNG deflate stream demands a preset dictionary (unsupported)"
          else "truncated PNG deflate stream")
      got += n
    }
    require(got == raw.length,
      s"PNG image data: expected ${raw.length} raw bytes, inflated $got")
    // no surplus pixels hiding past the declared dims
    val probe = new Array[Byte](1)
    require(inf.finished() || inf.inflate(probe) == 0,
      "PNG deflate stream longer than the declared image")
    inf.end()

    // reconstruct the five filters per scanline, byte-wise, bpp = 3
    val px = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      require(ft <= 4, s"bad filter type $ft on scanline $y")
      val rowIn = y * (stride + 1) + 1
      val rowOut = y * stride
      var x = 0
      while (x < stride) {
        val f = raw(rowIn + x) & 0xff
        val a = if (x >= 3) px(rowOut + x - 3) & 0xff else 0
        val b = if (y > 0) px(rowOut - stride + x) & 0xff else 0
        val c = if (x >= 3 && y > 0) px(rowOut - stride + x - 3) & 0xff else 0
        val v = ft match {
          case 0 => f
          case 1 => f + a
          case 2 => f + b
          case 3 => f + (a + b) / 2
          case 4 => f + paeth(a, b, c)
        }
        px(rowOut + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Image(w, h, px)
  }

  private def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    require(t.length == 4, s"chunk type must be 4 bytes: $typ")
    val out = new Array[Byte](12 + payload.length)
    putBe32(out, 0, payload.length)
    System.arraycopy(t, 0, out, 4, 4)
    System.arraycopy(payload, 0, out, 8, payload.length)
    val crc = new CRC32
    crc.update(out, 4, 4 + payload.length)
    putBe32(out, 8 + payload.length, crc.getValue.toInt)
    out
  }

  /** Serialize RGB8 pixels as a spec-conformant PNG. `filterOfRow`
    * picks each scanline's filter type (0–4); the default cycles
    * through all five so a decoder round trip exercises every
    * reconstruction path. Compression is the JDK deflater — the
    * compressed bytes are an implementation detail; only the decoded
    * pixels are contract.
    */
  def encode(w: Int, h: Int, pixels: Array[Byte],
             filterOfRow: Int => Int = _ % 5): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dimensions: $w x $h")
    require(pixels.length == 3 * w * h,
      s"payload must be ${3 * w * h} bytes, got ${pixels.length}")
    val stride = 3 * w
    val raw = new Array[Byte](h * (stride + 1))
    var y = 0
    while (y < h) {
      val ft = filterOfRow(y)
      require(ft >= 0 && ft <= 4, s"filter type must be 0-4, got $ft")
      raw(y * (stride + 1)) = ft.toByte
      val rowIn = y * stride
      val rowOut = y * (stride + 1) + 1
      var x = 0
      while (x < stride) {
        val v = pixels(rowIn + x) & 0xff
        val a = if (x >= 3) pixels(rowIn + x - 3) & 0xff else 0
        val b = if (y > 0) pixels(rowIn - stride + x) & 0xff else 0
        val c = if (x >= 3 && y > 0) pixels(rowIn - stride + x - 3) & 0xff else 0
        val f = ft match {
          case 0 => v
          case 1 => v - a
          case 2 => v - b
          case 3 => v - (a + b) / 2
          case 4 => v - paeth(a, b, c)
        }
        raw(rowOut + x) = (f & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val def_ = new Deflater() // zlib-wrapped, as PNG requires
    def_.setInput(raw)
    def_.finish()
    val buf = new Array[Byte](math.max(64, raw.length + raw.length / 2 + 64))
    val out = new java.io.ByteArrayOutputStream()
    while (!def_.finished()) out.write(buf, 0, def_.deflate(buf))
    def_.end()
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = 2; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    Signature ++ chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** Encode with a hand-built STORED-block zlib stream instead of the
    * JDK deflater — deflate's uncompressed block type (RFC 1951 §3.2.4:
    * BTYPE=00, LEN/NLEN little-endian, raw bytes; RFC 1950 zlib header
    * + Adler-32 trailer). Exists so the DECODER's independence from the
    * encoder's compressor is provable: a stream no JDK Deflater ever
    * produced must decode to the same pixels (PngSpec pins it). Row y
    * uses filter type y % 5, so every filter type is exercised.
    */
  def encodeStored(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    // reuse encode's filtering by re-deriving the raw scanlines: encode
    // then re-filter would couple the paths; build raw directly instead
    val stride = 3 * w
    require(pixels.length == 3 * w * h,
      s"payload must be ${3 * w * h} bytes, got ${pixels.length}")
    val raw = new Array[Byte](h * (stride + 1))
    var y = 0
    while (y < h) {
      val ft = y % 5
      raw(y * (stride + 1)) = ft.toByte
      val rowIn = y * stride
      val rowOut = y * (stride + 1) + 1
      var x = 0
      while (x < stride) {
        val v = pixels(rowIn + x) & 0xff
        val a = if (x >= 3) pixels(rowIn + x - 3) & 0xff else 0
        val b = if (y > 0) pixels(rowIn - stride + x) & 0xff else 0
        val c = if (x >= 3 && y > 0) pixels(rowIn - stride + x - 3) & 0xff else 0
        val f = ft match {
          case 0 => v
          case 1 => v - a
          case 2 => v - b
          case 3 => v - (a + b) / 2
          case 4 => v - paeth(a, b, c)
        }
        raw(rowOut + x) = (f & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val z = new java.io.ByteArrayOutputStream()
    z.write(0x78); z.write(0x01) // zlib: CM=8 CINFO=7, FCHECK, no dict
    var off = 0
    while (off < raw.length) { // raw.length ≥ 2 (w, h ≥ 1)
      val n = math.min(0xffff, raw.length - off)
      val last = off + n == raw.length
      z.write(if (last) 1 else 0) // BFINAL + BTYPE=00 (stored)
      z.write(n & 0xff); z.write((n >> 8) & 0xff)
      z.write(~n & 0xff); z.write((~n >> 8) & 0xff)
      z.write(raw, off, n)
      off += n
    }
    val adler = new Adler32
    adler.update(raw)
    val a = adler.getValue
    z.write(((a >>> 24) & 0xff).toInt); z.write(((a >>> 16) & 0xff).toInt)
    z.write(((a >>> 8) & 0xff).toInt); z.write((a & 0xff).toInt)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = 2; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    Signature ++ chunk("IHDR", ihdr) ++ chunk("IDAT", z.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }
}
