package graftbench

/** Generator self-test (no Spark): the same seed renders byte-identical
  * node answers and expected outputs, and another seed renders different
  * ones, for both chain shapes and the corpus. Exits non-zero on failure.
  */
object SelfTest {
  private def corpusDigest(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Corpus.generate(seed, CorpusBuild.Docs).foreach(d => md.update(s"${d.doc_id}\t${d.text}\t${d.lang}\n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(seed: Long): Unit = {
    val cases = Seq[(String, Long => String)](
      "rpc_backfill chain" -> (s => new Chain(s, Backfill.Spec).digest),
      "synced_hybrid chain" -> (s => new Chain(s, Synced.spec(Synced.MinTail)).digest),
      "corpus_build documents" -> corpusDigest)
    val ok = cases.map { case (name, digest) =>
      val (a, b, c) = (digest(seed), digest(seed), digest(seed + 1))
      val pass = a == b && a != c
      println(s"${if (pass) "PASS" else "FAIL"} generator $name: seed $seed twice " +
        s"${if (a == b) "identical" else "DIFFERENT"}, seed ${seed + 1} ${if (a != c) "different" else "IDENTICAL"} (${a.take(16)})")
      pass
    }
    if (!ok.forall(identity)) sys.exit(1)
  }
}
