package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorRuntime
import graft.{MediaFixtures => F}

/** Golden outputs of the media kernels, called on `VectorRuntime`
  * directly (no Spark session): every (row, parameters, input) case has
  * its output pinned as a SHA-256 in `src/test/resources/graft/
  * media_golden.tsv`, or `null`. Rows whose bytes come from a JDK
  * encoder (`ppm_to_png`, `ppm_to_jpeg`, `pgm_to_gray_png`,
  * `wav_to_aiff`) pin the digest of the decoded pixels or samples
  * (`image_to_ppm` / `audio_to_wav` of the output) instead.
  *
  * Rewrite the table (only when an output is meant to change):
  * `sbt "Test/runMain graft.MediaGolden src/test/resources/graft/media_golden.tsv"`
  */
class MediaGoldenSpec extends AnyFunSuite {
  test("every media kernel case matches its pinned digest") {
    val pinned = MediaGolden.load()
    val got = MediaGolden.table()
    assert(got.map(_._1).toSet == pinned.keySet,
      s"case ids differ: new ${got.map(_._1).filterNot(pinned.contains)}, " +
        s"gone ${pinned.keySet -- got.map(_._1)}")
    val wrong = got.collect { case (id, d) if pinned(id) != d => s"$id: ${pinned(id)} -> $d" }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}

object MediaGolden {
  private val Resource = "/graft/media_golden.tsv"

  /** Named inputs per media kind. */
  private val images: Seq[(String, Array[Byte])] = {
    val netpbm = for {
      ch <- Seq(3, 1); maxval <- Seq(255, 127, 15)
      (w, h) <- Seq((1, 1), (5, 3), (12, 10), (97, 61))
    } yield (s"${if (ch == 3) "p6" else "p5"}_m${maxval}_${w}x$h",
      F.netpbm(ch, w, h, maxval, seed = w * 1000 + h + maxval + ch,
        comment = (w + maxval) % 2 == 0))
    val p6 = F.netpbm(3, 12, 10, 255, 11)
    netpbm ++ Seq(
      "p6gray_12x10" -> F.grayP6(12, 10, 12),
      "png_rgb_12x10" -> F.jdkImage("png", "rgb", 12, 10, 13),
      "png_rgb_97x61" -> F.jdkImage("png", "rgb", 97, 61, 14),
      "png_gray8_12x10" -> F.jdkImage("png", "gray8", 12, 10, 15),
      "png_gray16_12x10" -> F.jdkImage("png", "gray16", 12, 10, 16),
      "jpeg_rgb_12x10" -> F.jdkImage("jpg", "rgb", 12, 10, 17),
      "gif_rgb_12x10" -> F.jdkImage("gif", "rgb", 12, 10, 18),
      "bmp_rgb_12x10" -> F.jdkImage("bmp", "rgb", 12, 10, 19),
      "tiff_rgb_12x10" -> F.jdkImage("tiff", "rgb", 12, 10, 20),
      "bad_truncated_p6" -> p6.dropRight(1),
      "bad_truncated_png" -> F.jdkImage("png", "rgb", 12, 10, 13).dropRight(20),
      "bad_magic_p7" -> ("P7".getBytes("US-ASCII") ++ p6.drop(2)),
      "bad_maxval0" -> ("P6\n12 10\n0\n".getBytes("US-ASCII") ++ p6.drop(11)),
      "bad_maxval256" -> ("P6\n12 10\n256\n".getBytes("US-ASCII") ++ p6.drop(11)),
      "bad_empty" -> Array.emptyByteArray,
      "bad_wav" -> F.wav(1, 1, 8, 8000, 96, 21))
  }

  private val videos: Seq[(String, Array[Byte])] = Seq(
    "y4m_c420jpeg" -> F.y4m("C420jpeg", 12, 10, 5, 31),
    "y4m_c420_frameparams" -> F.y4m("C420", 12, 10, 3, 32, frameParams = " Ip X=1"),
    "y4m_c422" -> F.y4m("C422", 12, 10, 4, 33),
    "y4m_c444" -> F.y4m("C444", 12, 10, 4, 34),
    "y4m_cmono" -> F.y4m("Cmono", 97, 61, 3, 35),
    "y4m_cmono_1x1" -> F.y4m("Cmono", 1, 1, 2, 36),
    "ppm_concat" -> F.concatPpm(12, 10, 5, 37),
    "ppm_p5_p6_concat" -> (F.netpbm(1, 12, 10, 255, 38) ++ F.netpbm(3, 12, 10, 255, 39)),
    "ppm_still" -> F.netpbm(3, 12, 10, 255, 40),
    "bad_ppm_concat_m127" -> (F.netpbm(3, 12, 10, 255, 41) ++ F.netpbm(3, 12, 10, 127, 42)),
    "bad_ppm_trailing" -> (F.concatPpm(12, 10, 2, 43) :+ 'x'.toByte),
    "bad_y4m_odd_420" -> F.y4m("C420", 11, 10, 2, 44, chromaLen = 60),
    "bad_y4m_c411" -> F.y4m("C411", 12, 10, 2, 45, chromaLen = 60),
    "bad_y4m_no_frame" -> {
      val p = F.y4m("C444", 12, 10, 2, 46)
      val i = new String(p, "ISO-8859-1").lastIndexOf("FRAME")
      p.updated(i, 'G'.toByte)
    },
    "bad_y4m_truncated" -> F.y4m("C420", 12, 10, 2, 47).dropRight(1),
    "bad_y4m_zero_frames" -> F.y4m("C420", 12, 10, 0, 48),
    "bad_empty" -> Array.emptyByteArray)

  private val audios: Seq[(String, Array[Byte])] = Seq(
    "wav_pcm8_mono" -> F.wav(1, 1, 8, 8000, 2000, 51),
    "wav_pcm8_mono_gate" -> (graft.operators.Multimodal.wavHeader(96) ++
      Array.tabulate[Byte](96)(i => (i * 37).toByte)),
    "wav_pcm16_stereo" -> F.wav(1, 2, 16, 44100, 3000, 52),
    "wav_pcm16_stereo_list" -> F.wav(1, 2, 16, 22050, 1500, 53, listChunk = true),
    "wav_float32_stereo" -> F.wav(3, 2, 32, 16000, 2500, 54),
    "wav_float32_mono" -> F.wav(3, 1, 32, 16000, 700, 55),
    "wav_pcm16_stereo_ragged" -> F.wav(1, 2, 16, 8000, 1000, 56, ragged = 2),
    "wav_pcm16_mono_ragged_byte" -> F.wav(1, 1, 16, 8000, 1000, 57, ragged = 1),
    "wav_pcm8_mono_one_frame" -> F.wav(1, 1, 8, 8000, 1, 58),
    "wav_pcm16_stereo_one_frame" -> F.wav(1, 2, 16, 8000, 1, 59),
    "wav_pcm16_stereo_two_frames" -> F.wav(1, 2, 16, 8000, 2, 60),
    "aiff_signed16_stereo" -> F.aiff(signed = true, 16, 2, 22050, 1800, 61),
    "aiff_signed8_mono" -> F.aiff(signed = true, 8, 1, 8000, 900, 62),
    "aiff_unsigned8_stereo" -> F.aiff(signed = false, 8, 2, 8000, 900, 63),
    "aiff_one_frame" -> F.aiff(signed = true, 16, 1, 8000, 1, 64),
    "bad_wav_truncated" -> F.wav(1, 2, 16, 8000, 500, 65).dropRight(3),
    "bad_wav_magic" -> ("RIFX".getBytes("US-ASCII") ++ F.wav(1, 1, 8, 8000, 100, 66).drop(4)),
    "bad_wav_fmt_adpcm" -> F.wav(2, 1, 16, 8000, 100, 67),
    "bad_wav_24bit" -> F.wav(1, 1, 24, 8000, 100, 68),
    "bad_wav_float64" -> F.wav(3, 1, 64, 8000, 100, 69),
    "bad_aifc" -> {
      val a = F.aiff(signed = true, 16, 1, 8000, 100, 70)
      a.updated(11, 'C'.toByte)
    },
    "bad_aiff_torn" -> F.aiff(signed = true, 16, 2, 8000, 300, 71).dropRight(7),
    "bad_ppm" -> F.netpbm(3, 12, 10, 255, 72),
    "bad_empty" -> Array.emptyByteArray)

  private def rows: Seq[(String, Seq[(String, Array[Byte])], Array[Byte] => Any)] = {
    val V = VectorRuntime
    def decodedPx(b: Array[Byte]): Any = if (b == null) null else ("px", V.imageToPpm(b))
    def decodedPcm(b: Array[Byte]): Any = if (b == null) null else ("pcm", V.audioToWav(b))
    Seq(
      ("dhash_image_bands(4,16)", images, V.dHashImageBands(_, 4, 16)),
      ("image_stats", images, V.imageStats(_)),
      ("image_to_ppm", images, V.imageToPpm(_)),
      ("ppm_to_png", images, p => decodedPx(V.ppmToPng(p))),
      ("ppm_to_jpeg", images, p => decodedPx(V.ppmToJpeg(p))),
      ("pgm_to_gray_png", images, p => decodedPx(V.pgmToGrayPng(p))),
      ("pgm_rescale(255)", images, V.pgmRescale(_, 255)),
      ("pgm_rescale(100)", images, V.pgmRescale(_, 100)),
      ("ppm_resize(7,5)", images, V.ppmResize(_, 7, 5)),
      ("ppm_resize(13,11)", images, V.ppmResize(_, 13, 11)),
      ("video_frame_dhashes(1)", videos, V.videoFrameDHashes(_, 1)),
      ("video_frame_dhashes(3)", videos, V.videoFrameDHashes(_, 3)),
      ("video_frame_dhashes(64)", videos, V.videoFrameDHashes(_, 64)),
      ("audio_fingerprint64", audios, V.audioFingerprint64(_)),
      ("wav_to_aiff", audios, p => decodedPcm(V.wavToAiff(p))),
      ("wav_to_float32", audios, V.wavToFloat32(_)),
      ("audio_to_wav", audios, V.audioToWav(_)))
  }

  /** SHA-256 hex of an output's canonical bytes, or "null". A decoded
    * output reads `<tag>:<digest>`.
    */
  private def digest(out: Any): String = {
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    out match {
      case null => "null"
      case (tag: String, inner) => s"$tag:${digest(inner)}"
      case b: Array[Byte] => sha(b)
      case a: ArrayData => sha(a.toLongArray.mkString("[", ",", "]").getBytes("US-ASCII"))
      case l: java.lang.Long => sha(l.toString.getBytes("US-ASCII"))
    }
  }

  /** `(case id, digest)` for every case, in table order. */
  def table(): Seq[(String, String)] =
    for ((row, inputs, f) <- rows; (name, payload) <- inputs)
      yield (s"$row/$name", digest(f(payload)))

  def load(): Map[String, String] = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(Resource), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(id, d) = l.split('\t'); id -> d
    }.toMap
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val lines = table().map { case (id, d) => s"$id\t$d" }.mkString("", "\n", "\n")
    if (args.isEmpty) print(lines)
    else java.nio.file.Files.write(java.nio.file.Paths.get(args(0)), lines.getBytes("UTF-8"))
  }
}
