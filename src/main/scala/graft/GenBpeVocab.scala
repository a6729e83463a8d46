package graft

import scala.collection.mutable

import graft.functions.BpeTable

/** Trains and emits the SHIPPED BPE merge table
  * (`src/main/resources/graft/bpe_merges.txt`) — see
  * [[graft.ext.BpeVocab]] for why the artifact is checked in.
  *
  * Training data = two deterministic sources merged:
  *
  *  1. The seed lexicon (`graft/bpe_seed_lexicon.txt`): ~1.4k English
  *     words in frequency-rank order, expanded to the surface-form
  *     distribution a pretokenized corpus actually exhibits — Zipf
  *     weight by rank; mid-sentence `Ġword` dominating, capitalized
  *     `ĠWord` and document-initial bare forms at small fractions;
  *     regular plural/`ing`/`ed` inflections for content words; plus
  *     hand-weighted punctuation, digit, contraction, newline and
  *     indentation pretokens (so `ĊĊ` paragraph breaks and `ĠĠ`
  *     indents merge the way published byte-level vocabularies do).
  *  2. The measured pretoken frequencies of the testdata documents
  *     corpus via the DISTRIBUTED path
  *     ([[graft.ext.TextAnalysis.bpeWordFrequencies]]), amplified so
  *     the engine's own corpus vocabulary merges fully.
  *
  * Usage: `runMain graft.GenBpeVocab [outPath] [sfDir] [numMerges]`.
  */
object GenBpeVocab {

  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0)
      else "src/main/resources/graft/bpe_merges.txt"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val numMerges = if (args.length > 2) args(2).toInt else 3000

    val freqs = mutable.LinkedHashMap[String, Long]()
    def add(w: String, c: Long): Unit =
      if (c > 0 && w.nonEmpty) freqs(w) = freqs.getOrElse(w, 0L) + c

    // -- 1) lexicon expansion -------------------------------------------
    val lex = loadLexicon()
    lex.zipWithIndex.foreach { case (w, i) =>
      val c = 400000L / (i + 1) + 2 // Zipf mass, floor 2
      add("Ġ" + w, c * 85 / 100)
      add("Ġ" + w.capitalize, c * 8 / 100)
      add(w.capitalize, c * 4 / 100) // document-initial
      add(w, c * 3 / 100)
      // regular inflections for content words (rank > 150, plain
      // lowercase alpha) — the suffix merges (s/ing/ed) every English
      // BPE learns come from exactly these forms
      if (i >= 150 && w.length >= 3 && w.forall(ch => ch >= 'a' && ch <= 'z')) {
        val stem = if (w.endsWith("e")) w.dropRight(1) else w
        add("Ġ" + w + "s", c * 22 / 100)
        add("Ġ" + stem + "ing", c * 12 / 100)
        add("Ġ" + (if (w.endsWith("e")) w + "d" else w + "ed"), c * 12 / 100)
      }
    }
    // punctuation / structure pretokens (GPT-2-shape: sentence
    // punctuation binds to the preceding word, so these are bare)
    Seq("." -> 260000L, "," -> 230000L, "'s" -> 40000L, "'t" -> 24000L,
      "'re" -> 9000L, "'ve" -> 7000L, "'ll" -> 6000L, "'m" -> 6000L,
      "'d" -> 5000L, "?" -> 18000L, "!" -> 14000L, ";" -> 12000L,
      ":" -> 12000L, "\"" -> 20000L, "Ġ\"" -> 18000L, "(" -> 8000L,
      "Ġ(" -> 8000L, ")" -> 9000L, "-" -> 16000L, "Ġ-" -> 9000L,
      "Ċ" -> 180000L, "ĊĊ" -> 60000L, "ĠĠ" -> 30000L, "ĠĠĠĠ" -> 12000L,
      "..." -> 4000L, ".\"" -> 6000L, ",\"" -> 6000L).foreach {
      case (w, c) => add(w, c)
    }
    // digit pretokens: years, small counts, bare digits
    (0 to 9).foreach { d => add("Ġ" + d, 6000L); add(d.toString, 1500L) }
    Seq("Ġ10", "Ġ12", "Ġ20", "Ġ100", "Ġ1000").foreach(add(_, 2500L))
    Seq("Ġ1990", "Ġ2000", "Ġ2010", "Ġ2020", "Ġ2024").foreach(add(_, 1800L))

    // -- 2) measured corpus frequencies (distributed count) -------------
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.ext.TextAnalysis.bpeWordFrequencies(docs, "text")
        .foreach { case (w, c) => add(w, c * 100) } // amplify vs lexicon mass
    } finally spark.stop()

    // -- 3) train + emit -------------------------------------------------
    val t0 = System.nanoTime()
    val merges = BpeTable.train(freqs.toSeq, numMerges, minCount = 2L)
    println(f"[genbpe] trained ${merges.length} merges from ${freqs.size} " +
      f"pretoken forms in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val sb = new StringBuilder
    sb ++= "# BPE merge table, rank order — learned first-party by\n"
    sb ++= "# graft.GenBpeVocab (BpeTable.train over the seed lexicon +\n"
    sb ++= "# testdata documents pretoken frequencies). Regenerate with:\n"
    sb ++= "#   sbt 'runMain graft.GenBpeVocab'\n"
    sb ++= "\n" // blank line closes the comment header (see BpeVocab.parseMerges)
    merges.foreach { case (a, b) => sb ++= a; sb += ' '; sb ++= b; sb += '\n' }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"[genbpe] wrote ${merges.length} merges to $out")
  }

  private def loadLexicon(): Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/bpe_seed_lexicon.txt")
    require(in != null, "resource graft/bpe_seed_lexicon.txt missing")
    val seen = mutable.LinkedHashSet[String]()
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .foreach(seen += _)
    finally in.close()
    seen.toSeq
  }
}
