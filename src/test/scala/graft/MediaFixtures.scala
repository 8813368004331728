package graft

/** Seeded media payloads for [[MediaGoldenSpec]] and [[KernelTiming]]:
  * netpbm, ImageIO containers, Y4M, concatenated PPM, WAV and AIFF, each
  * a pure function of its arguments and seed.
  */
private[graft] object MediaFixtures {
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** P6 (`channels` 3) or P5 (1) at `maxval`, samples uniform in
    * [0, maxval]. `comment` puts `#` lines and extra whitespace in the
    * header.
    */
  def netpbm(channels: Int, w: Int, h: Int, maxval: Int, seed: Int,
      comment: Boolean = false): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val magic = if (channels == 3) "P6" else "P5"
    val header =
      if (comment) s"$magic\n# seeded fixture $seed\n$w  \t$h\n# maxval next\n$maxval\n"
      else s"$magic\n$w $h\n$maxval\n"
    ascii(header) ++ Array.fill[Byte](w * h * channels)(rnd.nextInt(maxval + 1).toByte)
  }

  /** A P6 whose pixels are all R = G = B. */
  def grayP6(w: Int, h: Int, seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    ascii(s"P6\n$w $h\n255\n") ++
      Array.fill(w * h)(rnd.nextInt(256).toByte).flatMap(v => Array(v, v, v))
  }

  /** A smooth seeded RGB image: a gradient plus noise, so lossy
    * encoders keep the structure.
    */
  private def rgbImage(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
    val rnd = new scala.util.Random(seed)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 255 / math.max(1, w - 1) + rnd.nextInt(16)) min 255
      val g = (y * 255 / math.max(1, h - 1) + rnd.nextInt(16)) min 255
      val b = ((x + y) * 7 + rnd.nextInt(32)) & 0xff
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  /** An ImageIO-encoded image: `kind` "rgb", "gray8" or "gray16";
    * `format` any ImageIO writer name ("png", "jpg", "gif", "bmp",
    * "tiff").
    */
  def jdkImage(format: String, kind: String, w: Int, h: Int,
      seed: Int): Array[Byte] = {
    val img = kind match {
      case "rgb" => rgbImage(w, h, seed)
      case gray =>
        val rnd = new scala.util.Random(seed)
        val g = new java.awt.image.BufferedImage(w, h,
          if (gray == "gray8") java.awt.image.BufferedImage.TYPE_BYTE_GRAY
          else java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
        for (y <- 0 until h; x <- 0 until w)
          g.getRaster.setSample(x, y, 0,
            rnd.nextInt(if (gray == "gray8") 256 else 65536))
        g
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos), s"no $format writer")
    bos.toByteArray
  }

  /** YUV4MPEG2 with colorspace tag `cs` ("C420jpeg", "C422", "C444",
    * "Cmono", ...): `frames` frames of a seeded Y plane plus chroma
    * planes sized for `cs` (`chromaLen` overrides). `frameParams` goes
    * after each `FRAME`.
    */
  def y4m(cs: String, w: Int, h: Int, frames: Int, seed: Int,
      frameParams: String = "", chromaLen: Int = -1): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val chroma =
      if (chromaLen >= 0) chromaLen
      else if (cs.startsWith("C420")) 2 * ((w / 2) * (h / 2))
      else if (cs == "C422") 2 * ((w / 2) * h)
      else if (cs == "C444") 2 * w * h
      else 0
    val out = new java.io.ByteArrayOutputStream()
    out.write(ascii(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 $cs\n"))
    for (_ <- 0 until frames) {
      out.write(ascii(s"FRAME$frameParams\n"))
      out.write(Array.fill[Byte](w * h)(rnd.nextInt(256).toByte))
      out.write(Array.fill[Byte](chroma)(rnd.nextInt(256).toByte))
    }
    out.toByteArray
  }

  /** `frames` P6 frames back to back. */
  def concatPpm(w: Int, h: Int, frames: Int, seed: Int): Array[Byte] =
    (0 until frames).map(i => netpbm(3, w, h, 255, seed + i)).reduce(_ ++ _)

  /** A RIFF/WAVE payload: `fmtTag` 1 (PCM 8/16) or 3 (float32),
    * `frames` seeded sample frames, then `ragged` stray data bytes.
    * `listChunk` puts an odd-sized `LIST` chunk (with its pad byte)
    * between `fmt ` and `data`.
    */
  def wav(fmtTag: Int, channels: Int, bits: Int, rate: Int, frames: Int,
      seed: Int, ragged: Int = 0, listChunk: Boolean = false): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val bps = bits / 8
    val dataLen = frames * channels * bps + ragged
    val list = if (listChunk) ascii("LIST") ++ le32(5) ++ ascii("INFOx") :+ 0.toByte
      else Array.emptyByteArray
    val bb = java.nio.ByteBuffer.allocate(44 + list.length + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(ascii("RIFF")).putInt(36 + list.length + dataLen).put(ascii("WAVE"))
      .put(ascii("fmt ")).putInt(16).putShort(fmtTag.toShort)
      .putShort(channels.toShort).putInt(rate).putInt(rate * channels * bps)
      .putShort((channels * bps).toShort).putShort(bits.toShort)
      .put(list).put(ascii("data")).putInt(dataLen)
    // a slow sine with noise, so energy and zero crossings both move
    var i = 0
    while (i < frames * channels) {
      val s = math.sin(i * 0.013) * (0.3 + 0.6 * rnd.nextDouble())
      if (fmtTag == 3) bb.putFloat(s.toFloat)
      else if (bits == 8) bb.put(((s * 127).round + 128).toByte)
      else bb.putShort((s * 32000).round.toShort)
      i += 1
    }
    while (bb.hasRemaining) bb.put(rnd.nextInt(256).toByte)
    bb.array()
  }

  private def le32(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(v).array()

  /** An AIFF written by the JDK's own AIFF writer from a seeded PCM
    * stream that is signed or unsigned at `bits` (the writer converts
    * unsigned input to AIFF's signed samples).
    */
  def aiff(signed: Boolean, bits: Int, channels: Int, rate: Int,
      frames: Int, seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val bps = bits / 8
    val pcm = new Array[Byte](frames * channels * bps)
    var i = 0
    while (i < frames * channels) {
      val s = math.sin(i * 0.011) * (0.3 + 0.6 * rnd.nextDouble())
      if (bits == 8) pcm(i) = ((s * 127).round + (if (signed) 0 else 128)).toByte
      else {
        val v = (s * 32000).round.toInt + (if (signed) 0 else 32768)
        pcm(2 * i) = (v >> 8).toByte; pcm(2 * i + 1) = v.toByte
      }
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      if (signed) javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      else javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
      rate.toFloat, bits, channels, channels * bps, rate.toFloat, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    bos.toByteArray
  }
}
