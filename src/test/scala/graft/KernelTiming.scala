package graft

import graft.functions.VectorRuntime
import graft.{MediaFixtures => F}

/** Per-call time of the media kernels on `VectorRuntime` directly, at
  * two input sizes: the gate fixture size (12×10 images, 3 Y4M frames,
  * the `attachWavAudio` clip) and a realistic one (640×480 PPM and PNG,
  * 8 Y4M frames at 320×240, a 10 s 44.1 kHz 16-bit stereo WAV and its
  * AIFF). Each (row, input) is warmed for about 0.5 s, then timed in
  * `rounds` rounds of about 40 ms each; it prints the median and the
  * interquartile range of ns per call over the rounds, tab-separated.
  *
  * Usage: sbt "Test/runMain graft.KernelTiming [rounds=15] [regex]"
  * (`regex` keeps the rows whose name it finds a match in).
  */
object KernelTiming {
  @volatile private var sink: Any = null

  private def nsPerCall(f: () => Any, rounds: Int): (Double, Double, Int) = {
    val warmEnd = System.nanoTime() + 500000000L
    var calls = 0
    while (System.nanoTime() < warmEnd || calls < 3) { sink = f(); calls += 1 }
    val t0 = System.nanoTime()
    var k = 0
    while (System.nanoTime() - t0 < 40000000L) { sink = f(); k += 1 }
    val n = math.max(1, (k * 40000000L / (System.nanoTime() - t0)).toInt)
    val per = (0 until rounds).map { _ =>
      val s = System.nanoTime()
      var i = 0
      while (i < n) { sink = f(); i += 1 }
      (System.nanoTime() - s).toDouble / n
    }.sorted
    def q(p: Double): Double = per(((per.length - 1) * p).round.toInt)
    (q(0.5), q(0.75) - q(0.25), n)
  }

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.fold(15)(_.toInt)
    val filter = (if (args.length > 1) args(1) else "").r
    val V = VectorRuntime
    val small = Map(
      "ppm" -> F.netpbm(3, 12, 10, 255, 1),
      "ppm_m127" -> F.netpbm(3, 12, 10, 127, 2),
      "pgm" -> F.netpbm(1, 12, 10, 255, 3),
      "png" -> F.jdkImage("png", "rgb", 12, 10, 4),
      "y4m" -> F.y4m("C420", 12, 10, 3, 5),
      "ppm_concat" -> F.concatPpm(12, 10, 3, 6),
      "wav" -> (graft.operators.Multimodal.wavHeader(96) ++
        Array.tabulate[Byte](96)(i => (i * 37).toByte)),
      "aiff" -> F.aiff(signed = true, 8, 1, 8000, 96, 7))
    val large = Map(
      "ppm" -> F.netpbm(3, 640, 480, 255, 11),
      "ppm_m127" -> F.netpbm(3, 640, 480, 127, 12),
      "pgm" -> F.netpbm(1, 640, 480, 255, 13),
      "png" -> F.jdkImage("png", "rgb", 640, 480, 14),
      "y4m" -> F.y4m("C420", 320, 240, 8, 15),
      "ppm_concat" -> F.concatPpm(320, 240, 8, 16),
      "wav" -> F.wav(1, 2, 16, 44100, 441000, 17),
      "aiff" -> F.aiff(signed = true, 16, 2, 44100, 441000, 18))
    val rows: Seq[(String, Seq[String], Array[Byte] => Any)] = Seq(
      ("dhash_image_bands", Seq("ppm", "ppm_m127", "pgm", "png"), V.dHashImageBands(_, 4, 16)),
      ("image_stats", Seq("ppm", "pgm", "png"), V.imageStats(_)),
      ("image_to_ppm", Seq("ppm", "ppm_m127", "pgm", "png"), V.imageToPpm(_)),
      ("ppm_to_png", Seq("ppm", "pgm"), V.ppmToPng(_)),
      ("ppm_to_jpeg", Seq("ppm"), V.ppmToJpeg(_)),
      ("pgm_to_gray_png", Seq("pgm"), V.pgmToGrayPng(_)),
      ("pgm_rescale", Seq("pgm"), V.pgmRescale(_, 100)),
      ("ppm_resize", Seq("ppm", "pgm"), V.ppmResize(_, 64, 48)),
      ("video_frame_dhashes", Seq("y4m", "ppm_concat"), V.videoFrameDHashes(_, 8)),
      ("audio_fingerprint64", Seq("wav", "aiff"), V.audioFingerprint64(_)),
      ("wav_to_aiff", Seq("wav"), V.wavToAiff(_)),
      ("wav_to_float32", Seq("wav"), V.wavToFloat32(_)),
      ("audio_to_wav", Seq("wav", "aiff"), V.audioToWav(_)))
    println("row\tinput\tsize\tmedian_ns\tiqr_ns\tcalls_per_round")
    for ((row, inputs, f) <- rows if filter.findFirstIn(row).isDefined;
         (size, set) <- Seq("gate" -> small, "real" -> large); in <- inputs) {
      val p = set(in)
      require(f(p) != null, s"$row on $size $in returned null")
      val (med, iqr, n) = nsPerCall(() => f(p), rounds)
      println(f"$row\t$in\t$size\t$med%.0f\t$iqr%.0f\t$n")
    }
  }
}
