package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernels for the vector/sketch hot paths. Spark's higher-order
  * array functions (`aggregate`/`zip_with`/`transform`) are evaluated
  * INTERPRETED — fine for control plumbing, ~100× too slow for per-pair
  * inner loops at bench scale. These expressions run tight compiled loops
  * via static helpers, staying inside whole-stage codegen.
  */
object VectorRuntime {
  /** Dot product of two numeric arrays (float or double elements).
    * Dimension mismatch fails loudly — a truncated dot silently corrupts
    * every similarity/bucket downstream.
    */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vector_dot: dimension mismatch ${a.numElements()} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    if (aFloat && bFloat) {
      while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    } else if (aFloat) {
      while (i < n) { acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    } else if (bFloat) {
      while (i < n) { acc += a.getDouble(i) * b.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    }
    acc
  }

  /** Fused integer cosine-threshold test `cos(a, b) ≥ √(p2/q2)` over
    * integer-valued double vectors (the hashEmbed gram-count domain):
    * ONE loop computes a·b, ‖a‖², ‖b‖², then the comparison
    * `dot²·q2 ≥ p2·‖a‖²·‖b‖²` runs on a double fast path with an exact
    * BigInteger arbitration inside a ±10⁻⁹ relative border band — so
    * the verdict is EXACT (never a wrapped long, never a float
    * misrank) while the hot path stays allocation-free. `dot ≤ 0`,
    * zero norms, and any null are false — a zero vector has no
    * direction to match. Built for JOIN CONDITIONS (the semi-join
    * decon tier): a condition cannot pre-project the dot, and the
    * three-term predicate written as column arithmetic would
    * re-evaluate the dot kernel per reference.
    */
  def cosGe(a: ArrayData, b: ArrayData, p2: Long, q2: Long): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"cos_ge: dimension mismatch ${a.numElements()} vs ${b.numElements()}")
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    if (!(ab > 0) || aa == 0 || bb == 0) return false
    // integer-valued inputs: the sums are exact for magnitudes < 2^53
    // (the exact tier's cast("long") shares this bound)
    val dt = ab.toLong; val n1 = aa.toLong; val n2 = bb.toLong
    val lhs = dt.toDouble * dt * q2
    val rhs = p2.toDouble * n1 * n2
    if (lhs >= rhs * (1.0 + 1e-9)) return true
    if (lhs <= rhs * (1.0 - 1e-9)) return false
    java.math.BigInteger.valueOf(dt).pow(2)
      .multiply(java.math.BigInteger.valueOf(q2))
      .compareTo(java.math.BigInteger.valueOf(p2)
        .multiply(java.math.BigInteger.valueOf(n1))
        .multiply(java.math.BigInteger.valueOf(n2))) >= 0
  }

  /** SimHash of pre-hashed tokens: per bit, sum ±1 votes, sign → bit. */
  def simHash64(hashes: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        votes(b) += (((h >>> b) & 1L).toInt << 1) - 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** splitmix64 finalizer — THE mixing step every hash-equivalence in
    * this file depends on staying bit-identical across kernels
    * (minhash slots, word-gram hashes, char-gram hashes).
    */
  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash signature of pre-hashed shingles: slot i keeps the min over
    * grams of `mix(h, i)` (splitmix64 finalizer — one multiplicative hash
    * per slot, no string re-hashing). An EMPTY gram set has no signature
    * and returns null — the min over nothing would be the constant
    * Long.MaxValue vector, aliasing every gramless doc into one identical
    * signature (est_jaccard 1.0 false positives) and one shared LSH band
    * bucket (quadratic bucket join); null lets callers drop such rows
    * without re-running the gram kernel in a separate filter.
    */
  def minHashSig(hashes: ArrayData, numHashes: Int): ArrayData = {
    if (hashes.numElements() == 0) return null
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var s = 0
      while (s < numHashes) {
        val z = mix64(h + 0x9e3779b97f4a7c15L * (s + 1))
        if (z < sig(s)) sig(s) = z
        s += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Distinct hashes of the sliding word n-grams, built from per-token
    * hashes — no gram strings ever materialize (the string-shingle path
    * spent its time in slice/concat). Polynomial combine + splitmix
    * finalizer keeps gram hashes well-mixed; 64-bit collisions are
    * negligible at corpus scale.
    */
  def ngramHashes(tokenHashes: ArrayData, n: Int): ArrayData =
    ngramHashes(tokenHashes, n, distinct = true)

  /** `distinct = false` keeps every occurrence (multiplicity survives —
    * needed by frequency analyses like the top-bigram mode).
    */
  def ngramHashes(tokenHashes: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val m = tokenHashes.numElements() - n + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val seen = if (distinct) new java.util.HashSet[java.lang.Long](m * 2) else null
    val out = new Array[Long](m)
    var k = 0
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < n) {
        h = h * 0x100000001b3L + tokenHashes.getLong(i + j)
        j += 1
      }
      val z = mix64(h)
      if (seen == null || seen.add(z)) { out(k) = z; k += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, k))
  }

  /** Ordered per-position hashes of the sliding CHARACTER n-grams (one
    * per codepoint position, multiplicity kept): the char-level twin of
    * [[ngramHashes]], for character-LM statistics where position
    * alignment matters -- position i's (n-1)-gram is the CONTEXT of
    * position i's n-gram, so two calls with n and n-1 stay index-aligned
    * under `slice`. Same polynomial combine + splitmix finalizer; counts
    * over these hashes equal counts over the substring grams themselves
    * modulo negligible 64-bit collisions (the `ngramJaccardPairs`
    * equivalence).
    */
  def charNgramHashes(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int): ArrayData = {
    val s = text.toString
    val cps = new Array[Long](s.length)
    var m = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(m) = cp
      m += 1
      i += Character.charCount(cp)
    }
    val cnt = m - n + 1
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val out = new Array[Long](cnt)
    var p = 0
    while (p < cnt) {
      var h = 0L
      var j = 0
      while (j < n) {
        h = h * 0x100000001b3L + cps(p + j)
        j += 1
      }
      out(p) = mix64(h)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** dHash-style gradient bands over a byte sequence: bit `i` of the
    * flattened hash is `bytes[i mod n] > bytes[(i+1) mod n]` (unsigned,
    * cyclic — the standard difference-hash "is this pixel brighter than
    * its neighbour" gradient, applied to whatever byte sequence the
    * caller's decode step produced), packed little-endian into `bands`
    * longs of `bandBits` bits each. Banding IS the near-dup index key
    * scheme: two images within Hamming distance d of each other agree
    * on at least one band whenever d < bands (pigeonhole), exactly the
    * MinHash-band candidate-generation argument.
    *
    * Null for inputs shorter than 2 bytes: a 1-byte input has no
    * gradient and would alias every such doc into one all-zero band
    * bucket (the MinHashSig empty-gram trap).
    */
  def dHashBands(s: org.apache.spark.unsafe.types.UTF8String,
      bands: Int, bandBits: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < 2) return null
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var v = 0L
      var j = 0
      while (j < bandBits) {
        val i = b * bandBits + j
        if ((bytes(i % n) & 0xff) > (bytes((i + 1) % n) & 0xff))
          v |= (1L << j)
        j += 1
      }
      out(b) = v
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** REAL image dHash: decode the payload ([[raster]]: PPM/PGM through
    * the pure-JVM parse, or any JDK-decodable container — PNG/JPEG/GIF/
    * BMP/TIFF, sniffed by magic bytes and decoded headless via
    * `javax.imageio.ImageIO`, which ships in every JDK), then the one
    * box-resize dHash ([[dHash64]]: 9×8 grid of integer mean luma, the
    * 64 horizontal gradient bits `cell[r][c] > cell[r][c+1]`) packed
    * little-endian into `bands` longs of `bandBits` bits — the SAME band
    * layout as [[dHashBands]], so the banded near-dup join is
    * kernel-agnostic. A PPM and a PNG of the SAME pixels hash
    * identically (the decode-layer identities); a JPEG re-encode lands
    * within a small Hamming distance — the near-dup semantics.
    *
    * Null (row drops out, the established null-hash contract) for
    * anything that is not a well-formed payload of a supported format:
    * wrong magic, bad header, maxval > 255, truncated pixel data, or
    * an ImageIO decode failure.
    */
  def dHashImageBands(payload: Array[Byte], bands: Int,
      bandBits: Int): ArrayData = {
    val r = raster(payload)
    if (r == null) return null
    val h = dHash64(r)
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1L
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      out(b) = (h >>> (b * bandBits)) & mask
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** REAL raster stats: `{width, height, luma_milli_mean}` of the
    * decoded image, where `luma_milli_mean = Σ(299·R + 587·G + 114·B) /
    * (w·h)` — the integer milli-scaled ITU-R 601 mean with ONE final
    * division, so a relational oracle replays it byte-exactly from a
    * fixture recipe. Null for non-raster payloads (audio/video/opaque
    * rows carry null stats).
    */
  def imageStats(payload: Array[Byte]): ArrayData = {
    val r = raster(payload)
    if (r == null) return null
    val mean = new Array[Long](1)
    lumaMeans(r, 0, r.h, 1, 1L, mean, 0)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(r.w.toLong, r.h.toLong, mean(0)))
  }

  /** Normalize ANY supported image container to canonical P6 — the
    * transcode a mixed-format corpus runs before downstream raster
    * kernels (resize, per-pixel oracles) so they see ONE format: the
    * decoded raster's `P6\nW H\n255\n` + RGB bytes (comments and
    * whitespace variants collapse, P5 gray-embeds, maxval rescales).
    * Lossless containers round-trip byte-exactly (the `mm_image_
    * normalize` gate replays the output from the fixture recipe).
    * Null for non-image payloads or a decoded size past the 2 GiB
    * array bound (the null-drop routing convention).
    */
  def imageToPpm(payload: Array[Byte]): Array[Byte] = {
    val r = raster(payload)
    if (r == null) return null
    if (r.p6) r.bytes
    else {
      val c = toP6(r)
      if (c == null) null else c.bytes
    }
  }

  /** Transcode a netpbm payload to PNG via the JDK encoder — the
    * in-plan fixture leg for the real-format decode gates (PNG is
    * lossless, so the PNG's decoded pixels EQUAL the PPM's and the two
    * payloads dHash identically). Deterministic within a JVM; the
    * relational oracles never replay PNG bytes, only pixel-derived
    * facts. Null for non-netpbm payloads (the null-drop contract).
    */
  def ppmToPng(payload: Array[Byte]): Array[Byte] =
    imageIoWrite(bufferedImage(netpbm(payload), gray = false), "png")

  /** Transcode a netpbm payload to JPEG via the JDK encoder (default
    * quality) — the LOSSY fixture leg (round-16): real-world image
    * dedup's core case is a re-encoded copy, and JPEG is the re-encode
    * that actually loses information, so the fuzzy-join gates need a
    * leg the lossless PNG transcode cannot provide. On content that is
    * smooth at the dHash 9×8 cell scale (e.g. a block-aligned
    * upscale), the JPEG lands within the default near-dup radius of
    * its source — the recall property `mm_dhash_jpeg` pins.
    * Deterministic within a JVM; no relational oracle ever replays
    * JPEG bytes, only pair-level facts. Null for non-netpbm payloads
    * (the null-drop contract).
    */
  def ppmToJpeg(payload: Array[Byte]): Array[Byte] =
    imageIoWrite(bufferedImage(netpbm(payload), gray = false), "jpg")

  /** Transcode a GRAYSCALE netpbm payload to a true single-band
    * grayscale PNG (`TYPE_BYTE_GRAY` raster — round-17): the fixture
    * leg that exercises the gray-raster decode path (raw raster
    * samples, NOT `getRGB`'s linear-gray→sRGB transform — the
    * round-16 fix) with a REAL gray container at scale. Accepts P5
    * directly and P6 whose pixels are all R=G=B (the gray embedding
    * [[imageToPpm]] emits for P5); a P6 with any non-gray pixel
    * returns null — refusing is better than a silent lossy luma
    * conversion this transcode's name doesn't promise. Deterministic
    * within a JVM; no relational oracle replays PNG bytes, only
    * pixel-derived facts.
    */
  def pgmToGrayPng(payload: Array[Byte]): Array[Byte] =
    imageIoWrite(bufferedImage(netpbm(payload), gray = true), "png")

  /** Re-emit a P5 grayscale payload under a different maxval
    * (round-17): sample values rescale by `newMaxval/maxval`
    * (round-half-up — the same rounding the decode layer's 255/maxval
    * rescale uses, so `pgmRescale(pgmRescale(p, m), 255)` and the
    * normalizer agree bit for bit). The fixture leg for maxval < 255
    * corpora: rescaling a canonical payload DOWN quantizes (values
    * collapse to the coarser scale — information loss is the point of
    * the fixture), and the round trip 255 → m → 255 is then EXACT
    * because every m-scale value maps back to a multiple of 255/m when
    * it divides. Reads the raw P5 samples at their own maxval; null
    * for anything but P5.
    */
  def pgmRescale(payload: Array[Byte], newMaxval: Int): Array[Byte] = {
    if (newMaxval < 1 || newMaxval > 255) return null
    val r = netpbmAt(payload, 0)
    if (r == null || r.ch != 1) return null
    val header = s"P5\n${r.w} ${r.h}\n$newMaxval\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + r.w * r.h)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < r.w * r.h) {
      val v = r.bytes(r.pos + i) & 0xff
      // round-half-up rescale in pure integer arithmetic
      out(header.length + i) =
        ((v * newMaxval * 2 + r.maxval) / (r.maxval * 2)).toByte
      i += 1
    }
    out
  }

  /** REAL image resize transcode: integer box-resize every RGB channel
    * of the decoded netpbm raster to `outW`×`outH` (each target pixel
    * is the integer mean of its source box — boxes partition the
    * image, degenerate boxes widened to one pixel, so upscales
    * replicate; a gray raster resizes its one channel into R = G = B)
    * and re-encode as a canonical P6 (`P6\nW H\n255\n` + pixels).
    * All-integer and deterministic — the oracle can replay the
    * arithmetic byte for byte. Null for malformed or non-netpbm
    * payloads or non-positive target dims (the null-drop contract).
    */
  def ppmResize(payload: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    if (outW < 1 || outH < 1) return null
    val r = netpbm(payload)
    if (r == null) return null
    val b = r.bytes; val w = r.w; val ch = r.ch
    val out = newP6(outW, outH)
    var o = out.length - outW * outH * 3
    var ty = 0
    var y0 = 0
    while (ty < outH) {
      val yNext = boxEdge(ty + 1, r.h, outH); val y1 = boxEnd(y0, yNext)
      var tx = 0
      var x0 = 0
      while (tx < outW) {
        val xNext = boxEdge(tx + 1, w, outW); val x1 = boxEnd(x0, xNext)
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = y0
        while (y < y1) {
          var p = r.pos + (y * w + x0) * ch
          val end = r.pos + (y * w + x1) * ch
          if (ch == 3) while (p < end) {
            sr += b(p) & 0xff
            sg += b(p + 1) & 0xff
            sb += b(p + 2) & 0xff
            p += 3
          } else while (p < end) {
            sr += b(p) & 0xff
            p += 1
          }
          y += 1
        }
        if (ch == 1) { sg = sr; sb = sr }
        val cnt = (x1 - x0).toLong * (y1 - y0)
        out(o) = (sr / cnt).toByte
        out(o + 1) = (sg / cnt).toByte
        out(o + 2) = (sb / cnt).toByte
        o += 3
        x0 = xNext
        tx += 1
      }
      y0 = yNext
      ty += 1
    }
    out
  }

  /** Per-frame 64-bit dHashes of a video payload, routed by container
    * magic: `YUV4MPEG2` → real Y4M parse ([[y4mFrames]] — the public
    * uncompressed interchange format, round-15), otherwise
    * concatenated netpbm frames (the byte-exact fixture codec). Parse
    * every frame boundary sequentially, then hash up to `maxFrames`
    * evenly sampled frames (frame `⌊i·n/take⌋`) through the SAME
    * [[dHash64]] as still images — so a video frame and the identical
    * still image share a hash, and frame-level near-dup rides the
    * banded machinery unchanged. Null if the payload is empty,
    * unrecognized, any frame is malformed (a non-canonical maxval
    * included — a concatenated-PPM stream whose frames need per-frame
    * rescaling is not a fixture this codec emits; normalize stills via
    * `image_to_ppm` instead), or bytes trail the last frame (a torn
    * payload must drop, not half-decode).
    */
  def videoFrameDHashes(payload: Array[Byte], maxFrames: Int): ArrayData = {
    if (payload == null || payload.length == 0) return null
    val frames =
      if (payload.length >= 9 && payload(0) == 'Y' && payload(1) == 'U' &&
        payload(2) == 'V') y4mFrames(payload)
      else {
        val fs = new java.util.ArrayList[Raster]()
        var pos = 0
        while (pos < payload.length) {
          val r = netpbmAt(payload, pos)
          if (r == null || r.maxval != 255) return null
          fs.add(r)
          pos = r.pos + r.w * r.h * r.ch
        }
        fs
      }
    if (frames == null) return null
    val nf = frames.size
    val take = if (nf < maxFrames) nf else maxFrames
    val out = new Array[Long](take)
    var i = 0
    while (i < take) {
      out(i) = dHash64(frames.get(((i.toLong * nf) / take).toInt))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // -------------------------------------------------------------------
  // Media decode layer. Every media kernel decodes its payload ONCE into
  // one of two private views, then runs one feature function over it.
  //
  // Raster: canonical netpbm samples, `(bytes, pos, w, h, ch)` with
  // `ch` 1 (gray) or 3 (RGB), row-major from `pos`, at maxval 255.
  //  - luma is the integer ITU-R 601 recipe `299·R + 587·G + 114·B`
  //    (milli-scaled), and a gray sample `y` counts as `1000·y` — the
  //    same number on a gray RGB pixel, so a box mean
  //    `Σ1000·y / (cnt·1000) = Σy / cnt` is one value for P5, a gray
  //    P6, a gray PNG and a Y4M Y plane;
  //  - the gray embedding is `R = G = B = y`, both ways: P5 to P6
  //    (`image_to_ppm`), gray8/gray16 ImageIO rasters to RGB (their raw
  //    samples, never `getRGB`'s linear-gray→sRGB transform; 16-bit
  //    samples round by `s·255/65535`, round-half-up);
  //  - netpbm samples scale by maxval: a maxval m < 255 payload is
  //    rescaled once, in the decode, by `255/m` (round-half-up) into
  //    canonical P6 bytes, the bytes `image_to_ppm` emits for it;
  //  - an ImageIO container decodes to those same canonical P6 bytes.
  //
  // Pcm: one audio clip's interleaved samples over their container
  // bytes, read as CENTERED integers in the 16-bit scale: WAV 8-bit is
  // `v − 128` (its native ±128 range), 16-bit the signed value in the
  // container's byte order, IEEE float32 `[-1, 1]` → ±32767 (clamped,
  // NaN → 0); AIFF signed-8 IS WAV's `v − 128`, and unsigned variants
  // re-center. The same audio therefore reads the same integers from
  // a WAV and an AIFF carrier, and fingerprints bit-identically.
  // -------------------------------------------------------------------

  /** One decoded raster view (see the decode-layer notes above).
    * `maxval` is the header's (255 for every canonical view); `p6` is
    * true when `bytes` is exactly a canonical P6 this layer built.
    */
  private final class Raster(val bytes: Array[Byte], val pos: Int,
      val w: Int, val h: Int, val ch: Int, val maxval: Int, val p6: Boolean)

  /** Canonical view of any supported still image: netpbm, else ImageIO. */
  private def raster(payload: Array[Byte]): Raster = {
    val r = netpbm(payload)
    if (r != null) r else jdkRaster(payload)
  }

  /** Canonical view of a netpbm payload: its own bytes at maxval 255,
    * else the rescaled canonical P6. Null if it is not netpbm.
    */
  private def netpbm(payload: Array[Byte]): Raster = {
    val r = netpbmAt(payload, 0)
    if (r == null || r.maxval == 255) r else toP6(r)
  }

  /** `P6\nW H\n255\n` followed by room for the pixels. */
  private def newP6(w: Int, h: Int): Array[Byte] = {
    val header = ("P6\n" + w + " " + h + "\n255\n").getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    out
  }

  /** Canonical P6 of a netpbm view: gray embeds, maxval < 255 rescales.
    * Null past the 2 GiB array bound.
    */
  private def toP6(r: Raster): Raster = {
    if (r.w.toLong * r.h * 3L + 32L > Int.MaxValue) return null
    val out = newP6(r.w, r.h)
    val data = out.length - r.w * r.h * 3
    val b = r.bytes; val m = r.maxval; val n = r.w * r.h * r.ch
    @inline def scaled(v: Byte): Byte =
      if (m == 255) v else (((v & 0xff) * 255 * 2 + m) / (2 * m)).toByte
    var i = 0
    if (r.ch == 3) {
      if (m == 255) System.arraycopy(b, r.pos, out, data, n)
      else while (i < n) {
        out(data + i) = scaled(b(r.pos + i))
        i += 1
      }
    } else {
      var o = data
      while (i < n) {
        val v = scaled(b(r.pos + i))
        out(o) = v; out(o + 1) = v; out(o + 2) = v
        i += 1
        o += 3
      }
    }
    new Raster(out, data, r.w, r.h, 3, 255, p6 = true)
  }

  @inline private def isWsB(c: Int): Boolean = c == ' ' || c == '\t' ||
    c == '\n' || c == '\r' || c == 0x0b || c == 0x0c

  /** Header view of one binary netpbm frame (P6 color PPM or P5
    * grayscale PGM; maxval ≤ 255) starting at `start`, with the pixel
    * data verified in-bounds (frame end = `pos + w·h·ch`), or null for
    * anything malformed — wrong magic, bad header, maxval 0 or > 255,
    * truncated pixels. `#` comments and arbitrary header whitespace
    * honored per the netpbm spec; exactly ONE whitespace byte separates
    * maxval from data. The samples are raw, at the header's maxval.
    */
  private def netpbmAt(payload: Array[Byte], start: Int): Raster = {
    if (payload == null || payload.length - start < 11) return null
    if (payload(start) != 'P' ||
      (payload(start + 1) != '6' && payload(start + 1) != '5')) return null
    val channels = if (payload(start + 1) == '6') 3 else 1
    var pos = start + 2
    // next header integer: skip whitespace + '#'-to-EOL comments
    def nextInt(): Long = {
      var going = true
      while (going && pos < payload.length) {
        if (isWsB(payload(pos) & 0xff)) pos += 1
        else if (payload(pos) == '#') {
          while (pos < payload.length && payload(pos) != '\n') pos += 1
        } else going = false
      }
      var v = -1L
      while (pos < payload.length && payload(pos) >= '0' &&
          payload(pos) <= '9' && v <= Int.MaxValue) {
        v = (if (v < 0) 0L else v) * 10 + (payload(pos) - '0')
        pos += 1
      }
      v
    }
    val wL = nextInt(); val hL = nextInt(); val maxv = nextInt()
    // dimension tokens past Int.MaxValue stop parsing mid-number — any
    // such payload is truncated-pixel-data anyway; reject on the LONG
    // before narrowing
    if (wL < 1 || hL < 1 || wL > Int.MaxValue || hL > Int.MaxValue ||
      maxv < 1 || maxv > 255) return null
    val w = wL.toInt; val h = hL.toInt
    if (pos >= payload.length || !isWsB(payload(pos) & 0xff)) return null
    pos += 1
    if (pos.toLong + w.toLong * h * channels > payload.length) return null
    new Raster(payload, pos, w, h, channels, maxv.toInt, p6 = false)
  }

  /** Integer mean milli-luma of the `gw` boxes that partition the
    * columns of a view, over its rows `[y0, y1)`, further divided by
    * `scale`: `out(off + t) = Σ milli-luma / (cnt · scale)`. RGB pixels
    * weigh `299·R + 587·G + 114·B`, gray samples `1000·y`. The one luma
    * sum under [[dHash64]] (scale 1000: a cell's mean luma) and
    * [[imageStats]] (one box over every row, scale 1: the milli mean).
    */
  private def lumaMeans(r: Raster, y0: Int, y1: Int, gw: Int, scale: Long,
      out: Array[Long], off: Int): Unit = {
    val b = r.bytes; val w = r.w; val ch = r.ch
    var tx = 0
    var x0 = 0
    while (tx < gw) {
      val xNext = boxEdge(tx + 1, w, gw); val x1 = boxEnd(x0, xNext)
      // a full-width box is one contiguous run of samples
      val full = x0 == 0 && x1 == w
      val rows = if (full) y0 + 1 else y1
      var s = 0L
      var y = y0
      while (y < rows) {
        var p = r.pos + (y * w + x0) * ch
        val end = r.pos + (if (full) y1 * w else y * w + x1) * ch
        if (ch == 3) while (p < end) {
          s += 299L * (b(p) & 0xff) + 587L * (b(p + 1) & 0xff) +
            114L * (b(p + 2) & 0xff)
          p += 3
        } else s += 1000L * graySum(b, p, end)
        y += 1
      }
      out(off + tx) = s / ((x1 - x0).toLong * (y1 - y0) * scale)
      x0 = xNext
      tx += 1
    }
  }

  /** `Σ y` over the gray bytes `[from, end)`. A method of its own, so
    * that its loop is compiled for gray runs: inlined in [[lumaMeans]]
    * next to the RGB loop, it ran 1.2–2.6× slower on 640×480 gray input
    * (`graft.KernelTiming`).
    */
  private def graySum(b: Array[Byte], from: Int, end: Int): Long = {
    var s = 0L
    var p = from
    while (p < end) {
      s += b(p) & 0xff
      p += 1
    }
    s
  }

  /** The one box partition (dHash grid, resize, audio windows): box
    * `t` of `g` boxes over `n` cells starts at `boxEdge(t, n, g)` and
    * ends at `boxEnd(start, boxEdge(t + 1, n, g))` — a degenerate box
    * widens to one cell.
    */
  @inline private def boxEdge(t: Int, n: Int, g: Int): Int =
    ((t.toLong * n) / g).toInt
  @inline private def boxEnd(start: Int, nextEdge: Int): Int =
    if (nextEdge <= start) start + 1 else nextEdge

  /** Classic 64-bit dHash of a view: 9×8 box resize of the milli-luma
    * (boxes partition the frame, degenerate boxes widened to one
    * pixel), bit `r·8 + c` = `cell[r][c] > cell[r][c+1]`.
    *
    * ENTROPY caveat: frames SMALLER than the 9×8 grid make neighboring
    * cells read the same source pixel, so the 64 gradient bits are
    * correlated — such hashes still decode and match deterministically,
    * but carry well under 64 bits of entropy, and RADIUS (fuzzy)
    * matching over millions of them goes output-quadratic on
    * coincidental near-collisions (measured at the 1000× tier).
    * Hash thumbnails at ≥ 9×8.
    */
  private def dHash64(r: Raster): Long = {
    val gw = 9; val gh = 8
    val cells = new Array[Long](gh * gw)
    var ty = 0
    var y0 = 0
    while (ty < gh) {
      val yNext = boxEdge(ty + 1, r.h, gh)
      lumaMeans(r, y0, boxEnd(y0, yNext), gw, 1000L, cells, ty * gw)
      y0 = yNext
      ty += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      val row = i / 8; val c = i % 8
      if (cells(row * gw + c) > cells(row * gw + c + 1)) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** The YUV4MPEG2 decoder: stream header
    * `YUV4MPEG2 [ W<w> | H<h> | C<cs> | F/I/A/X<ignored> ]...\n`, then
    * per frame `FRAME[ params]\n` + planes. Each frame's Y plane IS the
    * luma the dHash wants, so it is a gray view (`ch` 1) — and a gray
    * RGB rendering of the same plane hashes identically. Chroma planes
    * are sized per colorspace and skipped: `C420`* (all 420
    * subsamplings share plane sizes), `C422`, `C444`, `Cmono`. Null for
    * anything malformed: unknown colorspace, odd dims under
    * subsampling, missing/garbled FRAME marker, truncated planes, or no
    * frame at all.
    */
  private def y4mFrames(payload: Array[Byte]): java.util.ArrayList[Raster] = {
    val magic = "YUV4MPEG2"
    if (payload.length < magic.length + 1) return null
    var i = 0
    while (i < magic.length) {
      if (payload(i) != magic.charAt(i)) return null
      i += 1
    }
    var pos = magic.length
    var w = -1L; var h = -1L
    var cs = "420"
    while (pos < payload.length && payload(pos) != '\n') {
      if (payload(pos) != ' ') return null
      pos += 1
      if (pos >= payload.length) return null
      val tag = payload(pos).toChar
      pos += 1
      val start = pos
      while (pos < payload.length && payload(pos) != ' ' &&
        payload(pos) != '\n') pos += 1
      val v = new String(payload, start, pos - start, "US-ASCII")
      tag match {
        case 'W' => w = asciiUInt(v); if (w < 1) return null
        case 'H' => h = asciiUInt(v); if (h < 1) return null
        case 'C' => cs = v
        case 'F' | 'I' | 'A' | 'X' => () // rate/interlace/aspect/comment
        case _ => return null
      }
    }
    if (pos >= payload.length || w < 1 || h < 1 ||
      w > Int.MaxValue || h > Int.MaxValue) return null
    pos += 1 // consume the header '\n'
    val chromaLen: Long =
      if (cs.startsWith("420")) {
        if ((w & 1L) != 0 || (h & 1L) != 0) return null
        2L * ((w / 2) * (h / 2))
      } else if (cs == "422") {
        if ((w & 1L) != 0) return null
        2L * ((w / 2) * h)
      } else if (cs == "444") 2L * w * h
      else if (cs == "mono") 0L
      else return null // 444alpha, 411, ... — unsupported plane sets
    val frameLen = w * h + chromaLen
    if (frameLen > Int.MaxValue) return null
    val frames = new java.util.ArrayList[Raster]()
    while (pos < payload.length) {
      // FRAME marker + optional parameters up to the newline
      if (pos + 6 > payload.length || payload(pos) != 'F' ||
        payload(pos + 1) != 'R' || payload(pos + 2) != 'A' ||
        payload(pos + 3) != 'M' || payload(pos + 4) != 'E') return null
      pos += 5
      while (pos < payload.length && payload(pos) != '\n') pos += 1
      if (pos >= payload.length) return null
      pos += 1
      if (pos.toLong + frameLen > payload.length) return null // torn
      frames.add(new Raster(payload, pos, w.toInt, h.toInt, 1, 255, p6 = false))
      pos += frameLen.toInt
    }
    if (frames.isEmpty) null else frames
  }

  /** Non-negative ASCII integer, or -1 on any non-digit/empty/overflow. */
  private def asciiUInt(s: String): Long = {
    if (s.isEmpty || s.length > 10) return -1L
    var v = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return -1L
      v = v * 10 + (c - '0')
      i += 1
    }
    v
  }

  /** ImageIO's disk cache writes decode scratch to temp FILES — per-row
    * I/O an executor must never pay. Disabled once per JVM, touched
    * lazily from the one ImageIO reader and the one writer.
    */
  private lazy val imageIoMemOnly: Boolean = {
    javax.imageio.ImageIO.setUseCache(false); true
  }

  /** Magic-byte sniff for the JDK-decodable raster containers: PNG
    * (`89 'PNG'`), JPEG (`FF D8 FF`), GIF (`'GIF8'`), BMP (`'BM'`),
    * TIFF (`'II*\0'` little-endian / `'MM\0*'` big-endian — the JDK
    * ships a TIFF plugin since Java 9; document/scan corpora carry it).
    * The sniff gates the (allocating) ImageIO attempt so arbitrary
    * binary payloads in a mixed-media table fail in a few byte
    * compares, not in a codec probe.
    */
  private def isJdkRaster(p: Array[Byte]): Boolean =
    p != null && p.length >= 8 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 0xff.toByte && p(1) == 0xd8.toByte && p(2) == 0xff.toByte) ||
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
      (p(0) == 'B' && p(1) == 'M') ||
      (p(0) == 'I' && p(1) == 'I' && p(2) == '*' && p(3) == 0) ||
      (p(0) == 'M' && p(1) == 'M' && p(2) == 0 && p(3) == '*'))

  /** Decoded-raster ceiling for the ImageIO path: 64M pixels. PPM/Y4M
    * are uncompressed — their decoded size is bounded by the payload
    * bytes — but PNG/GIF/JPEG are COMPRESSED: a kilobyte payload can
    * declare a multi-gigapixel canvas (decompression bomb), and an
    * unguarded `ImageIO.read` would try to allocate it inside an
    * executor task. Untrusted corpora are the norm at 100 TB, so
    * dimensions are read from the HEADER first and oversized images
    * null-drop before any pixel allocation.
    */
  private val MaxDecodedPixels: Long = 64L * 1024 * 1024

  /** The ImageIO decoder: a sniffed JDK container decoded headless into
    * canonical P6 bytes, or null on any failure (unsniffed magic,
    * truncated stream, codec error, or header dimensions past
    * [[MaxDecodedPixels]] — the null-drop contract; a corrupt or
    * hostile payload must drop its row, never kill the task).
    * Dimensions are checked via the reader's header-only accessors
    * BEFORE `read` allocates the raster. Gray rasters (`TYPE_BYTE_GRAY`
    * / `TYPE_USHORT_GRAY`, round-16) read their raw samples: `getRGB`
    * would push linear gray through the default sRGB transform (gray
    * 128 reads back ~186). Every other type reads `getRGB`.
    */
  private def jdkRaster(payload: Array[Byte]): Raster = {
    if (!isJdkRaster(payload)) return null
    if (!imageIoMemOnly) return null // unreachable; forces the lazy init
    var iis: javax.imageio.stream.ImageInputStream = null
    var reader: javax.imageio.ImageReader = null
    val img = try {
      iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      reader = readers.next()
      reader.setInput(iis, true, true)
      val w = reader.getWidth(0).toLong
      val h = reader.getHeight(0).toLong
      if (w < 1 || h < 1 || w * h > MaxDecodedPixels) return null
      reader.read(0)
    } catch {
      case _: Exception => return null
    } finally {
      if (reader != null) reader.dispose()
      if (iis != null) try iis.close() catch { case _: Exception => () }
    }
    val w = img.getWidth; val h = img.getHeight
    if (w < 1 || h < 1 || w.toLong * h * 3L + 32L > Int.MaxValue) return null
    val t = img.getType
    val gray8 = t == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val gray16 = t == java.awt.image.BufferedImage.TYPE_USHORT_GRAY
    val out = newP6(w, h)
    val data = out.length - w * h * 3
    val row = new Array[Int](w)
    var o = data
    var y = 0
    while (y < h) {
      var x = 0
      if (gray8 || gray16) {
        img.getRaster.getSamples(0, y, w, 1, 0, row)
        while (x < w) {
          val s = row(x)
          val v = (if (gray8) s else (s * 255 * 2 + 65535) / (2 * 65535)).toByte
          out(o) = v; out(o + 1) = v; out(o + 2) = v
          o += 3
          x += 1
        }
      } else {
        img.getRGB(0, y, w, 1, row, 0, w)
        while (x < w) {
          val s = row(x)
          out(o) = (s >>> 16).toByte
          out(o + 1) = (s >>> 8).toByte
          out(o + 2) = s.toByte
          o += 3
          x += 1
        }
      }
      y += 1
    }
    new Raster(out, data, w, h, 3, 255, p6 = true)
  }

  /** A view as a JDK image: `TYPE_INT_RGB` (a gray view embeds
    * `R = G = B`), or with `gray` a `TYPE_BYTE_GRAY` raster — null then
    * if any RGB pixel is not gray. Null for a null view.
    */
  private def bufferedImage(r: Raster, gray: Boolean): java.awt.image.BufferedImage = {
    if (r == null) return null
    val img = new java.awt.image.BufferedImage(r.w, r.h,
      if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      else java.awt.image.BufferedImage.TYPE_INT_RGB)
    val b = r.bytes; val n = r.w * r.h; val ch = r.ch
    var i = 0
    var p = r.pos
    if (gray) {
      val px = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      while (i < n) {
        val v = b(p)
        if (ch == 3 && (b(p + 1) != v || b(p + 2) != v)) return null
        px(i) = v
        p += ch
        i += 1
      }
    } else {
      val px = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferInt].getData
      while (i < n) {
        px(i) =
          if (ch == 3)
            ((b(p) & 0xff) << 16) | ((b(p + 1) & 0xff) << 8) | (b(p + 2) & 0xff)
          else (b(p) & 0xff) * 0x010101
        p += ch
        i += 1
      }
    }
    img
  }

  /** The one ImageIO writer: `img` encoded as `format`, or null when
    * `img` is null or the encoder fails.
    */
  private def imageIoWrite(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    if (img == null) return null
    if (!imageIoMemOnly) return null // unreachable; forces the lazy init
    val bos = new java.io.ByteArrayOutputStream(64 + img.getWidth * img.getHeight)
    try {
      if (!javax.imageio.ImageIO.write(img, format, bos)) null
      else bos.toByteArray
    } catch { case _: Exception => null }
  }

  /** One decoded audio clip (see the decode-layer notes above): `len`
    * bytes of interleaved samples from `pos`, `bits` 8/16 (integer) or
    * 32 (`float`).
    */
  private final class Pcm(val bytes: Array[Byte], val pos: Int, val len: Int,
      val channels: Int, val rate: Int, val bits: Int, val float: Boolean,
      val bigEndian: Boolean, val unsigned: Boolean) {
    val bps: Int = bits / 8
    def frames: Int = len / (channels * bps)

    /** The centered sample whose first byte is at `p`. */
    @inline def sampleAt(p: Int): Int =
      if (bits == 16) {
        val v =
          if (bigEndian) (bytes(p) << 8) | (bytes(p + 1) & 0xff)
          else (bytes(p) & 0xff) | (bytes(p + 1) << 8)
        if (unsigned) v - 32768 else v
      } else if (bits == 8) {
        if (unsigned) (bytes(p) & 0xff) - 128 else bytes(p).toInt
      } else floatAt(p)

    private def floatAt(p: Int): Int = {
      val f = java.lang.Float.intBitsToFloat(le32(bytes, p).toInt)
      if (java.lang.Float.isNaN(f)) 0
      else if (f >= 1.0f) 32767
      else if (f <= -1.0f) -32767
      else math.round(f * 32767f)
    }

    /** Frame `i` mixed to mono: the integer mean of its channels. */
    @inline def mono(i: Int): Int = {
      val base = pos + i * channels * bps
      var s = 0
      var c = 0
      while (c < channels) {
        s += sampleAt(base + c * bps)
        c += 1
      }
      s / channels
    }
  }

  /** Either audio decoder by container: `FORM…AIFF` → [[aiffPcm]],
    * otherwise [[wavPcm]]. Null for payloads under 12 bytes.
    */
  private def pcm(payload: Array[Byte]): Pcm = {
    if (payload == null || payload.length < 12) return null
    if (payload(0) == 'F' && payload(1) == 'O' && payload(2) == 'R' &&
        payload(3) == 'M' && payload(8) == 'A' && payload(9) == 'I' &&
        payload(10) == 'F' && payload(11) == 'F') aiffPcm(payload)
    else wavPcm(payload)
  }

  @inline private def le16(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
  @inline private def le32(p: Array[Byte], i: Int): Long =
    (p(i) & 0xffL) | ((p(i + 1) & 0xffL) << 8) |
      ((p(i + 2) & 0xffL) << 16) | ((p(i + 3) & 0xffL) << 24)

  /** The WAV decoder: the RIFF chunk walk — `fmt ` must precede `data`,
    * chunks are word-aligned per the RIFF spec — to a view over the
    * payload's `data` bytes. Accepted encodings: PCM (format 1) at 8/16
    * bits and IEEE float (format 3, round-15) at 32 bits. Null for
    * anything else or any truncation.
    */
  private def wavPcm(payload: Array[Byte]): Pcm = {
    if (payload == null || payload.length < 44) return null
    if (payload(0) != 'R' || payload(1) != 'I' || payload(2) != 'F' ||
      payload(3) != 'F') return null
    if (payload(8) != 'W' || payload(9) != 'A' || payload(10) != 'V' ||
      payload(11) != 'E') return null
    var pos = 12
    var fmtTag = 0; var channels = 0; var bits = 0; var rate = 0
    var dataPos = -1; var dataLen = 0
    while (pos + 8 <= payload.length && dataPos < 0) {
      val size = le32(payload, pos + 4)
      if (size > Int.MaxValue || pos + 8 + size > payload.length) return null
      if (payload(pos) == 'f' && payload(pos + 1) == 'm' &&
          payload(pos + 2) == 't' && payload(pos + 3) == ' ') {
        if (size < 16) return null
        fmtTag = le16(payload, pos + 8)
        channels = le16(payload, pos + 10)
        val rateL = le32(payload, pos + 12)
        bits = le16(payload, pos + 22)
        if (channels < 1 || rateL < 1 || rateL > Int.MaxValue) return null
        rate = rateL.toInt
        // PCM integer at 8/16 bits, or IEEE float at 32 — anything
        // else (ADPCM, a-law, extensible, float64) nulls out
        if (fmtTag == 1) { if (bits != 8 && bits != 16) return null }
        else if (fmtTag == 3) { if (bits != 32) return null }
        else return null
      } else if (payload(pos) == 'd' && payload(pos + 1) == 'a' &&
          payload(pos + 2) == 't' && payload(pos + 3) == 'a') {
        if (channels == 0) return null // fmt must precede data
        dataPos = pos + 8
        dataLen = size.toInt
      }
      pos += 8 + size.toInt + (size.toInt & 1) // RIFF word alignment
    }
    if (dataPos < 0) return null
    new Pcm(payload, dataPos, dataLen, channels, rate, bits,
      float = fmtTag == 3, bigEndian = false, unsigned = bits == 8)
  }

  /** REAL audio fingerprint (round-15, container-routed by [[pcm]]): a
    * 64-bit windowed energy/zero-crossing fingerprint
    * ([[energyZcrOfMono]]) over the channel-mixed mono samples. The
    * sample domain is identical across containers (the decode-layer
    * notes), so the SAME audio carried by WAV or AIFF fingerprints
    * bit-identically — the `mm_audio_aiff` gate pins exact equality,
    * not a drift bound — and a float32 re-encode of 16-bit audio lands
    * within a small Hamming distance (gradient ORDER is
    * scale-invariant; only integer-rounding ties can flip).
    *
    * Null (row drops, the null-hash contract) for anything that is not
    * well-formed audio in an accepted encoding: wrong magic,
    * missing/short `fmt `, other format tags, bits ∉ {8, 16} (PCM) /
    * {32} (float), truncated `data`, an AIFF the JDK cannot decode, or
    * fewer than 2 sample frames (no gradient).
    */
  def audioFingerprint64(payload: Array[Byte]): java.lang.Long = {
    val a = pcm(payload)
    if (a == null || a.frames < 2) null
    else java.lang.Long.valueOf(energyZcrOfMono(a))
  }

  /** The one fingerprint fold: 33 equal windows over the clip's mono
    * frames (degenerate windows widened to one frame), `energy[t]` =
    * integer mean |sample| and `zcr[t]` = sign changes within window
    * `t`; bit `j` = `energy[j] > energy[j+1]`, bit `32+j` =
    * `zcr[j] > zcr[j+1]` (j < 32). Same gradient-bits idea as the image
    * dHash, so the shared banded-Hamming join carries audio near-dup
    * unchanged. All-integer and deterministic.
    */
  private def energyZcrOfMono(a: Pcm): Long = {
    val nFrames = a.frames
    val win = 33
    val energy = new Array[Long](win)
    val zcr = new Array[Long](win)
    var t = 0
    var f0 = 0
    while (t < win) {
      val fNext = boxEdge(t + 1, nFrames, win); val f1 = boxEnd(f0, fNext)
      var sum = 0L; var z = 0L
      var prev = 0; var i = f0
      while (i < f1) {
        val v = a.mono(i)
        sum += (if (v < 0) -v.toLong else v.toLong)
        if (i > f0 && ((v >= 0) != (prev >= 0))) z += 1
        prev = v
        i += 1
      }
      energy(t) = sum / (f1 - f0)
      zcr(t) = z
      f0 = fNext
      t += 1
    }
    var hash = 0L
    var j = 0
    while (j < 32) {
      if (energy(j) > energy(j + 1)) hash |= (1L << j)
      if (zcr(j) > zcr(j + 1)) hash |= (1L << (32 + j))
      j += 1
    }
    hash
  }

  /** ServiceLoader scan across EVERY classloader that could host a
    * provider — the interface's own loader (platform — the JDK's
    * built-in readers), the thread context loader, and the system
    * loader (application classpath — where a future MP3/OGG SPI jar
    * would live). `AudioSystem`'s JDK13Services discovers through the
    * system loader, so scanning only the interface loader would leave
    * application-supplied providers silently invisible and a format
    * AudioSystem accepts would null-drop here instead (round-16
    * ADVICE). Deduped by provider class: the same JDK provider is
    * typically visible through all three.
    */
  private def loadSpiProviders[T](iface: Class[T])(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, T]
    val loaders = Seq(
      iface.getClassLoader,
      Thread.currentThread().getContextClassLoader,
      ClassLoader.getSystemClassLoader)
    for (cl <- loaders) {
      try {
        val it = java.util.ServiceLoader.load(iface, cl).iterator()
        while (it.hasNext) {
          try {
            val p = it.next()
            seen.getOrElseUpdate(p.getClass.getName, p)
          } catch { case _: java.util.ServiceConfigurationError => () }
        }
      } catch { case _: java.util.ServiceConfigurationError => () }
    }
    seen.values.toArray
  }

  /** javax.sound SPI providers, discovered ONCE per JVM and shared by
    * every executor thread. `AudioSystem.getAudioInputStream` /
    * `AudioSystem.write` route EVERY call through
    * `JDK13Services.getProviders` — a JVM-GLOBAL synchronized monitor.
    * Under local[32] the per-clip lookups convoy on that lock: the
    * 1000×-tier AIFF pass (1.67M clips) measured ~2 of 32 cores busy
    * with every worker stack parked on the monitor
    * (`JSSecurityManager.getProviders`). The SPI interfaces are public
    * API (`javax.sound.sampled.spi.*`) and the JDK's own readers/
    * writers are module-declared services, so a one-time ServiceLoader
    * scan yields the same providers without the per-call lock.
    * (ImageIO's `IIORegistry` is per-thread — the PNG/JPEG paths never
    * had this problem, which is why they scaled linearly while audio
    * did not.)
    */
  private val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] =
    loadSpiProviders(classOf[javax.sound.sampled.spi.AudioFileReader])
  private val audioWriters: Array[javax.sound.sampled.spi.AudioFileWriter] =
    loadSpiProviders(classOf[javax.sound.sampled.spi.AudioFileWriter])

  /** `AudioSystem.getAudioInputStream(stream)` without the global
    * monitor: probe the cached readers in order (a fresh
    * ByteArrayInputStream per probe — no mark/reset coupling between
    * providers). Null when no reader accepts the payload.
    */
  private[graft] def openAudioStream(
      payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    var i = 0
    while (i < audioReaders.length) {
      try return audioReaders(i).getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        case _: java.io.IOException => ()
      }
      i += 1
    }
    null
  }

  /** The AIFF decoder, through the JDK's headless `javax.sound`
    * reader ([[openAudioStream]]): PCM signed/unsigned at 8/16 bits, any
    * channel count, read into one buffer that the view then reads in
    * the shared sample domain. AIFF-C (compressed, `FORM…AIFC`) is not
    * sniffed by [[pcm]] — codec support is platform-dependent, so it
    * null-drops rather than decode differently on different JVMs. The
    * decoded byte count is bounded against the container size (PCM in
    * AIFF is uncompressed — a stream claiming more is malformed, the
    * audio decompression-bomb guard) and against the 2 GiB array
    * bound. Null on any parse/format failure.
    */
  private def aiffPcm(payload: Array[Byte]): Pcm = {
    var ais: javax.sound.sampled.AudioInputStream = null
    try {
      ais = openAudioStream(payload)
      if (ais == null) return null
      val f = ais.getFormat
      val enc = f.getEncoding
      val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      val unsigned =
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      val bits = f.getSampleSizeInBits
      val channels = f.getChannels
      val rate = math.round(f.getSampleRate)
      if ((!signed && !unsigned) || (bits != 8 && bits != 16) ||
        channels < 1 || rate < 1) return null
      val nFramesL = ais.getFrameLength
      val frameSize = f.getFrameSize
      if (nFramesL < 1 || frameSize != channels * (bits / 8) ||
        nFramesL * frameSize > payload.length.toLong * 4 ||
        nFramesL * frameSize > Int.MaxValue - 64) return null
      val data = new Array[Byte](nFramesL.toInt * frameSize)
      var off = 0
      while (off < data.length) {
        val r = ais.read(data, off, data.length - off)
        if (r <= 0) return null // truncated stream
        off += r
      }
      new Pcm(data, 0, data.length, channels, rate, bits, float = false,
        bigEndian = f.isBigEndian, unsigned = unsigned)
    } catch {
      case _: Exception => null
    } finally {
      if (ais != null) try ais.close() catch { case _: Exception => () }
    }
  }

  /** Transcode an integer-PCM WAV to AIFF through the JDK encoder —
    * the in-plan fixture leg for the AIFF gate. Each frame-aligned
    * sample is written as its centered value, signed big-endian (8-bit:
    * `v − 128`; 16-bit: a byte swap, values identical), done HERE so
    * the stream handed to the JDK writer is already PCM_SIGNED
    * big-endian: `AiffFileWriter` only falls back to
    * `AudioSystem.getAudioInputStream` (the global provider monitor —
    * see [[audioReaders]]) when it must convert, and a pre-converted
    * stream keeps that branch cold. The container itself is still
    * written by the JDK's own AIFF encoder (cached SPI writer), and the
    * `mm_audio_aiff` gate pins fingerprint BIT-EQUALITY of the result
    * against the WAV leg, so a conversion error cannot hide. Null for
    * anything that is not integer PCM WAV (float WAVs route through
    * [[wavToFloat32]]'s domain, not this one) or holds no whole frame.
    */
  def wavToAiff(payload: Array[Byte]): Array[Byte] = {
    val a = wavPcm(payload)
    if (a == null || a.float || a.frames < 1) return null
    val nFrames = a.frames
    val nSamples = nFrames * a.channels
    val pcm = new Array[Byte](nSamples * a.bps)
    var i = 0
    if (a.bits == 8) while (i < nSamples) {
      pcm(i) = a.sampleAt(a.pos + i).toByte
      i += 1
    } else while (i < pcm.length) { // signed 16-bit LE → BE: a byte swap
      pcm(i) = a.bytes(a.pos + i + 1)
      pcm(i + 1) = a.bytes(a.pos + i)
      i += 2
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      a.rate.toFloat, a.bits, a.channels, true, true)
    var ais: javax.sound.sampled.AudioInputStream = null
    try {
      ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val tpe = javax.sound.sampled.AudioFileFormat.Type.AIFF
      var w = 0
      while (w < audioWriters.length) {
        if (audioWriters(w).isFileTypeSupported(tpe, ais)) {
          val bos = new java.io.ByteArrayOutputStream(nSamples * a.bps + 64)
          audioWriters(w).write(ais, tpe, bos)
          return bos.toByteArray
        }
        w += 1
      }
      null
    } catch {
      case _: Exception => null
    } finally {
      if (ais != null) try ais.close() catch { case _: Exception => () }
    }
  }

  /** Transcode an integer-PCM WAV to IEEE-float32 WAV (format 3) — the
    * in-plan fixture leg for the float-decode gates, and a real
    * transcode any pipeline normalizing mixed-encoding audio needs:
    * each centered sample maps exactly (8-bit: `(v−128)/128`, 16-bit:
    * `v/32768` — both exact in float32, no rounding), channels are
    * PRESERVED (a transcode is not a downmix), and the output is a
    * canonical 44-byte header + one float32 LE word per sample. Every
    * whole sample in `data` is written (`dataLen / bytesPerSample`, not
    * frame-aligned). Deterministic bit-for-bit. Null for non-PCM input
    * (an already-float payload has nothing to transcode; the null-drop
    * routing convention).
    */
  def wavToFloat32(payload: Array[Byte]): Array[Byte] = {
    val a = wavPcm(payload)
    if (a == null || a.float) return null
    val nSamples = a.len / a.bps
    val out = wavOut(3, a.channels, a.rate, 32, nSamples)
    if (out == null) return null
    val scale = if (a.bits == 8) 128.0f else 32768.0f
    var i = 0
    while (i < nSamples) {
      val f = java.lang.Float.floatToRawIntBits(
        a.sampleAt(a.pos + i * a.bps) / scale)
      val o = 44 + 4 * i
      out(o) = f.toByte; out(o + 1) = (f >> 8).toByte
      out(o + 2) = (f >> 16).toByte; out(o + 3) = (f >> 24).toByte
      i += 1
    }
    out
  }

  /** Canonical-WAV audio normalization (round-16 — `image_to_ppm`'s
    * audio twin, VERDICT r15 Next #1): transcode ANY accepted audio
    * container/encoding — integer-PCM WAV (8/16-bit), IEEE-float32
    * WAV, or AIFF via javax.sound — to ONE canonical PCM-16 LE WAV
    * (44-byte header, channels and sample rate preserved) whose
    * samples are the decode layer's CENTERED sample domain, the domain
    * every round-15 cross-container gate pins. Value preservation in
    * that domain is the contract:
    *
    *  - `audio_fingerprint64(audio_to_wav(x)) == audio_fingerprint64(x)`
    *    BIT-EXACTLY for every accepted input — normalization never
    *    moves a near-dup cluster (the `mm_audio_normalize` gates);
    *  - the WAV and AIFF carriers of the same audio normalize to
    *    BYTE-IDENTICAL outputs (their sample domains are identical,
    *    the round-15 `mm_audio_aiff` bit-equality finding made
    *    executable);
    *  - already-canonical PCM-16 WAV re-emits its samples verbatim
    *    (header chunks canonicalize, sample bytes copy).
    *
    * Frame-aligned: a ragged trailing sample drops, exactly the
    * fingerprint's own frame domain. Deliberately NOT a loudness
    * stage: 8-bit audio keeps its native ±128 amplitude — a 256× gain
    * would break the bit-equality guarantee on integer-division ties in
    * the fingerprint's window means, and gain belongs to playback, not
    * dedup canonicalization.
    *
    * WHY THIS OPERATOR EXISTS AT SCALE: the round-15 100× probe
    * measured the per-query javax.sound AIFF decode at ~2.6 ms/clip
    * (433 s/pass) vs 0.09 ms for the pure RIFF parse (10.2 s/pass).
    * Normalizing ONCE at ingest moves the codec cost out of every
    * downstream fingerprint/near-dup/ingest pass — the same
    * normalize-once recipe `image_to_ppm` gives mixed image corpora.
    * Row-local, no shuffle; null for unrecognized containers,
    * truncated streams, or outputs past the 2 GiB array bound (the
    * null-drop routing convention).
    */
  def audioToWav(payload: Array[Byte]): Array[Byte] = {
    val a = pcm(payload)
    if (a == null) return null
    val nSamples = a.frames * a.channels
    val out = wavOut(1, a.channels, a.rate, 16, nSamples)
    if (out == null) return null
    if (a.bits == 16 && !a.bigEndian && !a.unsigned)
      // already the canonical sample encoding — verbatim copy
      System.arraycopy(a.bytes, a.pos, out, 44, nSamples * 2)
    else {
      var i = 0
      while (i < nSamples) {
        val v = a.sampleAt(a.pos + i * a.bps)
        out(44 + 2 * i) = v.toByte; out(45 + 2 * i) = (v >> 8).toByte
        i += 1
      }
    }
    out
  }

  /** A WAV output for `nSamples` samples: the 44-byte header
    * ([[putWavHeader]]) written, room for the body. Null when the
    * output would exceed the 2 GiB array bound or the u32 byteRate
    * field would wrap (a pathological rate × channels product must
    * reject, not wrap into a corrupt header other readers would trust).
    */
  private def wavOut(fmtTag: Int, channels: Int, rate: Int, bits: Int,
      nSamples: Int): Array[Byte] = {
    val bps = bits / 8
    if (nSamples.toLong * bps + 44L > Int.MaxValue ||
      rate.toLong * channels * bps > Int.MaxValue) return null
    putWavHeader(java.nio.ByteBuffer.allocate(44 + nSamples * bps)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN),
      fmtTag, channels, rate, bits, nSamples * bps).array()
  }

  /** The one canonical 44-byte WAV header writer (`RIFF`/`WAVE`, a
    * 16-byte `fmt ` chunk, the `data` chunk header for `dataLen` bytes)
    * into a little-endian buffer; returns `bb`.
    */
  private[graft] def putWavHeader(bb: java.nio.ByteBuffer, fmtTag: Int,
      channels: Int, rate: Int, bits: Int, dataLen: Int): java.nio.ByteBuffer = {
    val blockAlign = channels * (bits / 8)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(fmtTag.toShort).putShort(channels.toShort)
      .putInt(rate).putInt(rate * blockAlign)
      .putShort(blockAlign.toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** One-pass token counts over the lowercased text, replicating exactly
    * `\S+` (whitespace tokens) and `[a-z0-9]+|[^a-z0-9\s]` (BPE-ish
    * tokens): two regex scans fused into one loop. Locale-independent
    * lowercase (ROOT) and CODEPOINT iteration — a regex `.` consumes one
    * codepoint, so a surrogate pair must count once, not twice.
    */
  def tokenCounts(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    var nWs = 0L
    var nBpe = 0L
    var inWs = false
    var inRun = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp <= Char.MaxValue && isWs(cp.toChar)) { inWs = false; inRun = false }
      else {
        if (!inWs) { nWs += 1; inWs = true }
        if (cp <= Char.MaxValue && isAlnum(cp.toChar)) {
          if (!inRun) { nBpe += 1; inRun = true }
        } else { nBpe += 1; inRun = false }
      }
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(nWs, nBpe))
  }

  /** Fused language-vote + quality-count pass over an ALREADY-LOWERED
    * string (the caller applies Spark's `lower` builtin, so lowercase
    * semantics stay the engine's): one scan producing
    * `[v_0..v_{k-1}, n_ws, n_bpe, n_punct]` where `v_j` counts
    * whitespace tokens equal to any word of `words(j)` — replicating
    * `size(filter(filter(split(s,"\\s+"), _ != ""), _.isin(words(j))))`
    * — and the three counts replicate [[tokenCounts]]' `\S+` /
    * `[a-z0-9]+|[^a-z0-9\s]` semantics plus
    * `size(filter(bpe, _.rlike("^[^a-z0-9]$")))` (every single-
    * codepoint non-alnum BPE token, i.e. `n_bpe` minus the alnum runs).
    * The HOF formulation this replaces evaluated 8 interpreted
    * `ArrayFilter` lambdas per row after building the token arrays;
    * this is one codegen'd call, the [[termTf]] shape.
    */
  def langStats(text: org.apache.spark.unsafe.types.UTF8String,
      words: Array[Array[String]]): ArrayData = {
    val s = text.toString
    val k = words.length
    val out = new Array[Long](k + 3)
    val n = s.length
    var i = 0
    var inRun = false
    while (i < n) {
      // whitespace gap (the `\s` class is BMP-only — a plain char test)
      while (i < n && isWs(s.charAt(i))) { i += 1; inRun = false }
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) {
          val cp = s.codePointAt(i)
          if (cp <= Char.MaxValue && isAlnum(cp.toChar)) {
            if (!inRun) { out(k + 1) += 1; inRun = true } // n_bpe: alnum run
          } else {
            out(k + 1) += 1 // n_bpe: one single-codepoint token
            out(k + 2) += 1 // n_punct: non-alnum, non-ws codepoint
            inRun = false
          }
          i += Character.charCount(cp)
        }
        inRun = false
        out(k) += 1 // n_ws
        var j = 0
        while (j < k) {
          val ws0 = words(j)
          var w = 0
          var hit = false
          while (!hit && w < ws0.length) {
            val t = ws0(w)
            if (t.length == i - start && s.regionMatches(start, t, 0, t.length))
              hit = true
            w += 1
          }
          if (hit) out(j) += 1
          j += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fused whitespace tokenize + per-token xxhash64 — replicates
    * `transform(filter(split(text, "\\s+"), _ =!= ""), w => xxhash64(w))`
    * exactly, without materializing a single token string: the Java
    * `\s` separators are all ASCII, and a UTF-8 multibyte sequence never
    * contains an ASCII byte, so a BYTE scan splits identically to the
    * regex, and each token hashes via the same
    * `XXH64.hashUnsafeBytes(bytes, 42)` Spark's `xxhash64` applies to
    * strings. This is the hot head of every gram/minhash/winnow/simhash
    * pipeline; the `transform` lambda it replaces is a higher-order
    * function, which Spark evaluates interpreted (CodegenFallback) after
    * first building the full token-string array per row.
    */
  def wsTokenHashes(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    def ws(b: Byte): Boolean =
      b == ' '.toByte || b == '\t'.toByte || b == '\n'.toByte ||
        b == 0x0B.toByte || b == '\f'.toByte || b == '\r'.toByte
    // pass 1: token count (exact-size output, no growable buffer churn)
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && ws(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        count += 1
        while (i < n && !ws(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      }
    }
    val out = new Array[Long](count)
    var k = 0
    i = 0
    while (i < n) {
      while (i < n && ws(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !ws(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
        out(k) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(base, off + start, i - start, 42L)
        k += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** LSH band keys from a MinHash signature: `bands` keys, key `b` =
    * the XxHash64 fold Spark's `xxhash64(b, slice(sig, b·r+1, r))`
    * computes — `h = hashInt(b, 42)` then `h = hashLong(elem, h)` per
    * slice element — reproduced exactly (band keys live in PERSISTED
    * index caches; any drift poisons them) without the interpreted
    * `transform` lambda or the 16 slice allocations per row.
    */
  def lshBandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    // loud bounds guard: a too-short signature must never read past the
    // array — UnsafeArrayData.getLong would silently return adjacent
    // row memory (asserts are off by default), writing nondeterministic
    // keys into persisted index caches
    require(sig.numElements() >= bands * rowsPerBand,
      s"lsh_band_keys: signature has ${sig.numElements()} slots, need " +
        s"bands*rowsPerBand = ${bands * rowsPerBand}")
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b, 42L)
      var j = 0
      while (j < rowsPerBand) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(sig.getLong(b * rowsPerBand + j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** One-pass whitespace tokenization + per-term tf over the LOWERCASED
    * text, replicating `wsTokens(lower(text))` token equality exactly:
    * `out(0)` = token count (dl), `out(i+1)` = occurrences of
    * `terms(i)`. Whitespace is the BMP `\s` class — never a surrogate —
    * so a plain char scan splits identically to `split("\\s+")` with
    * empties dropped; lowercase is locale-independent ROOT like
    * [[tokenCounts]]. One string pass regardless of |terms|, where the
    * HOF formulation re-evaluated the tokenizer per term.
    */
  def termTf(text: org.apache.spark.unsafe.types.UTF8String,
      terms: Array[String]): ArrayData = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val out = new Array[Long](terms.length + 1)
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        out(0) += 1
        var j = 0
        while (j < terms.length) {
          val t = terms(j)
          if (t.length == i - start && s.regionMatches(start, t, 0, t.length))
            out(j + 1) += 1
          j += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Rolling polynomial fingerprint over the text's CODEPOINTS:
    * `acc = (acc*131 + cp) mod m` — the compiled twin of the interpreted
    * `aggregate(split(text,''), ...)` fold (same value: `ascii()` of a
    * one-char string is its codepoint, and the test corpus is BMP-only so
    * per-char and per-codepoint iteration agree; the oracle replays the
    * identical fold).
    */
  def rollingFp(text: org.apache.spark.unsafe.types.UTF8String, mod: Long): Long = {
    val s = text.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 131 + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** Hashing-trick text embedding (Weinberger et al. 2009, "Feature
    * Hashing for Large Scale Multitask Learning"): one dense signed
    * gram-count vector per document, built in a single row-local pass.
    * For every char `n`-gram (codepoint iteration — the [[rollingFp]]
    * BMP convention, so the DuckDB oracle's per-char `ascii()` replay
    * sees identical values):
    *
    *  - injective gram code `hg = Σ cp_j · 65536^(n−1−j)` (n ≤ 3 keeps
    *    `hg·31+7` inside int64 EXACTLY — the property that lets the
    *    oracle restate the hash in plain BIGINT SQL, no wrap-around
    *    semantics to emulate);
    *  - mix `m = (hg·31 + 7) mod 1000003`;
    *  - slot `m mod dim`, sign `+1` if `(m ÷ dim)` is even else `−1`
    *    (the signed hashing trick — collisions cancel in expectation,
    *    so E[v·w] is the gram-profile dot product).
    *
    * Deterministic, engine-neutral, zero allocation beyond the output
    * vector; the caller owns case folding (pass `lower(text)`).
    */
  def hashEmbedVec(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int, dim: Int): ArrayData = {
    val s = text.toString
    val out = new Array[Long](dim)
    // rolling injective gram code: keep the last n codepoints' positional
    // sum; subtract the oldest term (cp · 65536^(n-1)) as the window slides
    val win = new Array[Long](n)
    val hi = { var p = 1L; var j = 1; while (j < n) { p *= 65536L; j += 1 }; p }
    var hg = 0L
    var filled = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (filled == n) { hg -= win(0) * hi; var j = 0
        while (j < n - 1) { win(j) = win(j + 1); j += 1 }
        filled -= 1 }
      win(filled) = cp
      hg = hg * 65536L + cp
      filled += 1
      if (filled == n) {
        val mix = (hg * 31L + 7L) % 1000003L
        out((mix % dim).toInt) += (if ((mix / dim) % 2L == 0L) 1L else -1L)
      }
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS scheme): slide a `w`-gram window over the
    * ORDERED gram-hash sequence, keep each window's minimum hash
    * (rightmost on ties — the robust-winnowing rule); any token run of
    * ≥ w+n−1 shared tokens between two documents is guaranteed to share
    * a selected fingerprint. Returns the DISTINCT selected hashes.
    * O(n) via a monotonic deque; popping `>=` keeps the newest of equal
    * values, which IS the rightmost-min tie rule.
    */
  def winnowHashes(gramHashes: ArrayData, w: Int): ArrayData = {
    val n = gramHashes.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val win = math.max(w, 1)
    if (n <= win) {
      // shorter than one window: keep the global min so every non-empty
      // doc carries at least one fingerprint
      var m = Long.MaxValue
      var i = 0
      while (i < n) { val h = gramHashes.getLong(i); if (h < m) m = h; i += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(m))
    }
    val idx = new Array[Int](n)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]
    val sel = new Array[Long](n)
    var k = 0
    var i = 0
    while (i < n) {
      val h = gramHashes.getLong(i)
      while (tail > head && gramHashes.getLong(idx(tail - 1)) >= h) tail -= 1
      idx(tail) = i; tail += 1
      if (idx(head) <= i - win) head += 1
      if (i >= win - 1) {
        val m = gramHashes.getLong(idx(head))
        if (seen.add(m)) { sel(k) = m; k += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(sel, k))
  }

  /** Symmetric int-quantization round-trip stats in one pass:
    * `scale = max|x| / levels`, each element quantized to
    * `rint(x/scale)` and reconstructed; returns `(maxAbsError, scale)`.
    * Never materializes the quantized array — the embedding-compression
    * verifier needs only the error bound, and at corpus scale the second
    * array per row is pure shuffle weight. `levels = 127` ⇒ int8.
    */
  def quantStats(a: ArrayData, aFloat: Boolean, levels: Int): ArrayData = {
    val n = a.numElements()
    def elem(i: Int): Double = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val ax = math.abs(elem(i)); if (ax > maxAbs) maxAbs = ax; i += 1
    }
    // all-zero vector: any positive scale round-trips exactly
    val scale = if (maxAbs == 0.0) 1.0 else maxAbs / levels
    var maxErr = 0.0
    i = 0
    while (i < n) {
      val x = elem(i)
      val err = math.abs(x - math.rint(x / scale) * scale)
      if (err > maxErr) maxErr = err
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(maxErr, scale))
  }

  /** Residual int8 quantization (the PQ encode step): against centroid
    * `c`, `scale = max|v−c| / levels` and `codes[i] = rint((v_i−c_i)/
    * scale)` — per-vector scale, symmetric, so reconstruction error per
    * element is ≤ scale/2 by construction (the [[quantStats]] bound on
    * the residual). Returns `(codes: byte[], scale)`; the codes array is
    * `dim` BYTES — the compact index payload that replaces the float
    * vector in candidate joins.
    */
  def quantResidual(v: ArrayData, c: ArrayData, vFloat: Boolean,
      levels: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    if (n != c.numElements()) throw new IllegalArgumentException(
      s"quant_residual: dimension mismatch $n vs ${c.numElements()}")
    def elem(i: Int): Double = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val r = math.abs(elem(i) - c.getDouble(i))
      if (r > maxAbs) maxAbs = r
      i += 1
    }
    // zero residual (vector == centroid): any positive scale is exact
    val scale = if (maxAbs == 0.0) 1.0 else maxAbs / levels
    val codes = new Array[Byte](n)
    i = 0
    while (i < n) {
      codes(i) = math.rint((elem(i) - c.getDouble(i)) / scale).toByte
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](codes, scale))
  }

  /** Dot of a float/double query vector with int8 residual codes (the PQ
    * approximate-distance inner loop): `Σ q_i · codes_i` — the caller
    * multiplies by the stored scale. Bytes are signed, matching encode.
    */
  def dotCodes(q: ArrayData, codes: Array[Byte], qFloat: Boolean): Double = {
    val n = codes.length
    if (q.numElements() != n) throw new IllegalArgumentException(
      s"dot_codes: dimension mismatch ${q.numElements()} vs $n")
    var acc = 0.0
    var i = 0
    if (qFloat) {
      while (i < n) { acc += q.getFloat(i).toDouble * codes(i); i += 1 }
    } else {
      while (i < n) { acc += q.getDouble(i) * codes(i); i += 1 }
    }
    acc
  }

  /** Integer dot of two int8 code vectors (the PQ pair-scoring inner
    * loop): `Σ a_i · b_i` in exact Long arithmetic (bounded by
    * dim · 127² ≪ 2^63).
    */
  def codesDot(a: Array[Byte], b: Array[Byte]): Long = {
    val n = a.length
    if (n != b.length) throw new IllegalArgumentException(
      s"codes_dot: dimension mismatch $n vs ${b.length}")
    var acc = 0L
    var i = 0
    while (i < n) { acc += a(i).toLong * b(i); i += 1 }
    acc
  }

  /** Count of equal slots between two signatures (Jaccard estimator).
    * Widths must match — comparing a persisted 64-hash signature against
    * a 128-hash one would silently halve the estimate if we compared the
    * common prefix (the same loud contract as [[dot]]/[[codesDot]]).
    */
  def sigAgreement(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"sig_agreement: signature width mismatch $n vs ${b.numElements()}")
    var eq = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq
  }

  /** Unicode NFC. Fast paths: pure-ASCII input (`numBytes == numChars`
    * ⇒ every codepoint is single-byte ⇒ always NFC) returns the input
    * with ZERO allocation — the dominant case in web corpora; non-ASCII
    * already-composed text pays one decode + `isNormalized` scan but no
    * normalize pass.
    */
  def nfc(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (s.numBytes() == s.numChars()) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Greedy BPE encoding of ONE word (no whitespace inside): start from
    * single code points, repeatedly merge the adjacent pair with the
    * LOWEST merge rank until no ranked pair remains — the standard
    * inference rule matching how the merge list was learned (rank order
    * = learning order). `ranks` keys are "left right" (space-joined;
    * words are `\S+` so units never contain a space).
    */
  def bpeEncode(word: org.apache.spark.unsafe.types.UTF8String,
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val s = word.toString
    val units = new java.util.ArrayList[String](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      units.add(s.substring(i, i + n))
      i += n
    }
    var done = units.size < 2
    while (!done) {
      var best = -1
      var bestRank = Int.MaxValue
      var j = 0
      while (j < units.size - 1) {
        val r = ranks.get(units.get(j) + " " + units.get(j + 1))
        if (r != null && r < bestRank) { bestRank = r; best = j }
        j += 1
      }
      if (best < 0) done = true
      else {
        units.set(best, units.get(best) + units.get(best + 1))
        units.remove(best + 1)
        done = units.size < 2
      }
    }
    val out = new Array[AnyRef](units.size)
    var k = 0
    while (k < out.length) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(units.get(k))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The `n` nearest coarse-quantizer lists for `v`, nearest first (see
    * [[NearestCentroidsKernel]]).
    */
  def nearestCentroids(v: ArrayData, kernel: NearestCentroidsKernel): ArrayData =
    kernel(v)
}

/** Precomputed coarse-quantizer state for the `nearest_centroids` kernel
  * ([[VectorRuntime.nearestCentroids]]): the centroid matrix flattened
  * row-major plus per-centroid squared norms,
  * built ONCE per expression instance and shared by every row (the
  * per-centroid-expression formulation this replaces rebuilt `nlist`
  * struct expressions per plan — at `nlist = √n` sizing the generated
  * code blew past codegen limits and fell back to interpreted
  * evaluation, measured 300 s vs 13 s for the corpus assignment pass at
  * 200k × 448).
  *
  * Arithmetic is kept bit-identical to the expression form it replaces:
  * rank key `‖c‖² − 2·v·c` with the dot accumulated in element order,
  * ties broken toward the smaller list index (what
  * `array_sort(struct(d, list))` produced).
  */
final class NearestCentroidsKernel(centroids: Array[Array[Double]],
    val n: Int, vecIsFloat: Boolean) extends Serializable {
  private val nlist = centroids.length
  private val dim = if (nlist == 0) 0 else centroids(0).length
  private val flat: Array[Double] = {
    val f = new Array[Double](nlist * dim)
    var c = 0
    while (c < nlist) {
      System.arraycopy(centroids(c), 0, f, c * dim, dim); c += 1
    }
    f
  }
  private val cn2: Array[Double] = centroids.map(_.map(x => x * x).sum)

  def apply(v: ArrayData): ArrayData = {
    // a mismatched vector must fail loudly: on UnsafeArrayData an
    // out-of-range getFloat is an unchecked memory read, so a short
    // vector would silently dot garbage into an arbitrary cluster (the
    // same contract dot()/codesDot() already enforce)
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"nearest_centroids: vector dim ${v.numElements()} vs centroid dim $dim")
    val k = math.min(n, nlist)
    val dist = new Array[Double](k)
    val idx = new Array[Int](k)
    var m = 0
    var c = 0
    while (c < nlist) {
      val base = c * dim
      var acc = 0.0
      var i = 0
      if (vecIsFloat) {
        while (i < dim) { acc += v.getFloat(i).toDouble * flat(base + i); i += 1 }
      } else {
        while (i < dim) { acc += v.getDouble(i) * flat(base + i); i += 1 }
      }
      val d = cn2(c) - 2.0 * acc
      if (m < k || d < dist(m - 1)) {
        // insertion position: strictly-less keeps equal-distance earlier
        // (smaller) list indices ahead — the array_sort tie order
        var j = if (m < k) m else m - 1
        while (j > 0 && d < dist(j - 1)) { dist(j) = dist(j - 1); idx(j) = idx(j - 1); j -= 1 }
        dist(j) = d; idx(j) = c
        if (m < k) m += 1
      }
      c += 1
    }
    val out = new Array[Int](m)
    System.arraycopy(idx, 0, out, 0, m)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Column-API surface for the vector, text and media kernels (rows of
  * [[Kernels]]).
  */
object vec {
  private def k(name: String, in: Column, params: Any*): Column =
    Kernels.call(name, Seq(in), params: _*)

  def dot(a: Column, b: Column): Column = Kernels.call("vector_dot", Seq(a, b))
  def cosGe(a: Column, b: Column, p2: Long, q2: Long): Column =
    Kernels.call("cos_ge", Seq(a, b), p2, q2)
  def simHash64(hashes: Column): Column = k("simhash64", hashes)
  def ngramHashes(tokenHashes: Column, n: Int): Column =
    k("ngram_hashes", tokenHashes, n, true)

  /** Every-occurrence variant (multiplicity survives for mode counts). */
  def ngramHashesAll(tokenHashes: Column, n: Int): Column =
    k("ngram_hashes", tokenHashes, n, false)
  /** Ordered per-position char n-gram hashes (see [[VectorRuntime.charNgramHashes]]). */
  def charNgramHashes(text: Column, n: Int): Column = k("char_ngram_hashes", text, n)
  def tokenCounts(text: Column): Column = k("token_counts", text)
  def langStats(loweredText: Column, words: Seq[Seq[String]]): Column =
    k("lang_stats", loweredText, words)
  def wsTokenHashes(text: Column): Column = k("ws_token_hashes", text)
  def dHashBands(s: Column, bands: Int, bandBits: Int): Column =
    k("dhash_bands", s, bands, bandBits)
  def dHashImageBands(payload: Column, bands: Int, bandBits: Int): Column =
    k("dhash_image_bands", payload, bands, bandBits)
  def ppmResize(payload: Column, outW: Int, outH: Int): Column =
    k("ppm_resize", payload, outW, outH)
  def ppmToPng(payload: Column): Column = k("ppm_to_png", payload)
  def ppmToJpeg(payload: Column): Column = k("ppm_to_jpeg", payload)
  def pgmToGrayPng(payload: Column): Column = k("pgm_to_gray_png", payload)
  def pgmRescale(payload: Column, newMaxval: Int): Column =
    k("pgm_rescale", payload, newMaxval)
  def imageStats(payload: Column): Column = k("image_stats", payload)
  def imageToPpm(payload: Column): Column = k("image_to_ppm", payload)
  def videoFrameDHashes(payload: Column, maxFrames: Int): Column =
    k("video_frame_dhashes", payload, maxFrames)
  def audioFingerprint64(payload: Column): Column = k("audio_fingerprint64", payload)
  def wavToFloat32(payload: Column): Column = k("wav_to_float32", payload)
  def wavToAiff(payload: Column): Column = k("wav_to_aiff", payload)
  def audioToWav(payload: Column): Column = k("audio_to_wav", payload)
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    k("lsh_band_keys", sig, bands, rowsPerBand)
  def termTf(text: Column, terms: Seq[String]): Column = k("term_tf", text, terms)
  def rollingFp(text: Column, mod: Long): Column = k("rolling_fp", text, mod)
  def hashEmbedVec(text: Column, n: Int, dim: Int): Column =
    k("hash_embed_vec", text, n, dim)
  def minHashSig(hashes: Column, numHashes: Int): Column =
    k("minhash_sig", hashes, numHashes)
  def sigAgreement(a: Column, b: Column): Column = Kernels.call("sig_agreement", Seq(a, b))
  def quantStats(v: Column, levels: Int): Column = k("quant_stats", v, levels)
  def quantResidual(v: Column, centroid: Column, levels: Int): Column =
    Kernels.call("quant_residual", Seq(v, centroid), levels)
  def dotCodes(q: Column, codes: Column): Column = Kernels.call("dot_codes", Seq(q, codes))
  def codesDot(a: Column, b: Column): Column = Kernels.call("codes_dot", Seq(a, b))
  def winnowHashes(gramHashes: Column, w: Int): Column = k("winnow_hashes", gramHashes, w)
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    k("bpe_encode", word, merges)
  def nfc(text: Column): Column = k("nfc_normalize", text)
  def nearestCentroids(v: Column, centroids: Array[Array[Double]], n: Int): Column =
    k("nearest_centroids", v, centroids.map(_.toSeq).toSeq, n)
}
