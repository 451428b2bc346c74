package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.sources.CorpusSources

/** Inputs of the `vspace-ref` workload in the reference formats, plus the
  * expected `stats_global` / `stats_by_source` fingerprints computed from
  * the generator's canonical tokens in plain Scala (no Spark, no program
  * code), so the check is independent of every layer it checks.
  *
  *  - `corpus/`: documents joined by the record delimiter, 8 files;
  *  - `index2doc/`: 10-column TSV; ~1% of documents have no row and ~0.3%
  *    have two (some with the same subsource, some with another);
  *  - `src2sub/`: 20 subsources over 5 sources, `sub0` claimed by two;
  *  - `phrases/`, `collections/`: ~2x10^5 vocabulary lines, mostly n-grams
  *    that occur in the text, some that do not.
  */
object VspaceInputs {
  val MaxNgrams = 6
  val NSources = 5
  val NSubsources = 20
  val NFiles = 8

  /** Sources claiming a subsource: four each, and `sub0` also by source4. */
  def sourcesOf(sub: Int): Seq[Int] = if (sub == 0) Seq(0, 4) else Seq(sub / 4)

  def generate(seed: Long, dir: Path, targetBytes: Long): Unit = {
    val gen = new TextGen(seed)
    val nTypes = gen.words.length
    val r = new SplittableRandom(seed)
    val sentinels = ArrayBuffer[String]()
    def tokStr(t: Int): String = if (t < nTypes) gen.words(t) else sentinels(t - nTypes)

    // --- corpus: generated and written in document-id order
    val sep = " " + CorpusSources.RecordDelimiter + " "
    val corpusDir = Files.createDirectories(dir.resolve("corpus"))
    val docs = ArrayBuffer[Array[Int]]()
    var bytes = 0L
    for (f <- 0 until NFiles) {
      val w = Io.writer(corpusDir.resolve(f"part-$f%05d.txt"))
      var fileBytes = 0L
      var first = true
      while (fileBytes < targetBytes / NFiles) {
        val d = docs.length
        val body = gen.drawDoc(r, gen.drawLength(r, min = 1))
        val toks =
          if (r.nextInt(5) == 0) {
            sentinels += s"nferdoccount_$d"
            (nTypes + sentinels.length - 1) +: body
          } else body
        docs += toks
        val rec = (if (first) "" else " ") + gen.render(toks.map(tokStr), r) + sep.stripSuffix(" ")
        first = false
        w.write(rec)
        fileBytes += rec.getBytes("UTF-8").length
      }
      w.close()
      bytes += fileBytes
    }
    val nDocs = docs.length

    // --- index2doc: skewed subsources, missing and repeated rows
    val subW = Array.tabulate(NSubsources)(k => 1.0 / math.pow(k + 1, 0.7))
    val subCdf = subW.scanLeft(0.0)(_ + _).tail.map(_ / subW.sum)
    def drawSub(): Int = { val u = r.nextDouble(); subCdf.indexWhere(_ > u) max 0 }
    val docSubs = Array.fill(nDocs)(Seq.empty[Int])
    val indexDir = Files.createDirectories(dir.resolve("index2doc"))
    val iw = Array.tabulate(2)(i => Io.writer(indexDir.resolve(f"part-$i%05d.tsv")))
    for (d <- 0 until nDocs if r.nextInt(100) != 0) {
      val s = drawSub()
      val subs =
        if (r.nextInt(300) != 0) Seq(s)
        else Seq(s, if (r.nextBoolean()) s else (s + 1 + r.nextInt(NSubsources - 1)) % NSubsources)
      docSubs(d) = subs
      subs.foreach { sub =>
        iw(d % 2).write(Seq(d.toString, s"https://example.org/doc/$d", s"sub$sub",
          (1990 + d % 35).toString, "m1", s"title ${gen.words(d % nTypes)}",
          s"author${d % 97}", "m2", "m3", "m4").mkString("\t") + "\n")
      }
    }
    iw.foreach(_.close())

    // --- src2sub
    val srcDir = Files.createDirectories(dir.resolve("src2sub"))
    Io.writeText(srcDir.resolve("part-00000.txt"), (0 until NSources).map { s =>
      val subs = (0 until NSubsources).filter(sourcesOf(_).contains(s))
      s"source$s ${subs.map(i => s"sub$i").mkString(",")}"
    }.mkString("", "\n", "\n"))

    // --- vocabulary: stock phrases, n-grams sampled from the text, noise
    val vocab = ArrayBuffer[Array[Int]]()
    def sampleGram(minN: Int, maxN: Int): Array[Int] = {
      var g: Array[Int] = null
      while (g == null) {
        val doc = docs(r.nextInt(nDocs))
        val n = minN + r.nextInt(maxN - minN + 1)
        if (doc.length >= n) {
          val at = r.nextInt(doc.length - n + 1)
          val cand = doc.slice(at, at + n)
          if (cand.forall(_ < nTypes)) g = cand
        }
      }
      g
    }
    def noiseGram(n: Int): Array[Int] = Array.fill(n)(r.nextInt(nTypes))
    val phraseLines = ArrayBuffer[String]()
    val collectionLines = ArrayBuffer[String]()
    def joined(g: Array[Int]) = g.map(tokStr).mkString("_")
    gen.stockPhrases.foreach { g => vocab += g; phraseLines += s"${joined(g)} ${1 + r.nextInt(900)}" }
    for (_ <- 0 until 140000) {
      val g = sampleGram(2, 4); vocab += g; phraseLines += s"${joined(g)} ${1 + r.nextInt(900)}"
    }
    for (_ <- 0 until 7500) {
      val g = noiseGram(2 + r.nextInt(2)); vocab += g; phraseLines += s"${joined(g)} 1"
    }
    for (_ <- 0 until 40000) { val g = sampleGram(2, MaxNgrams); vocab += g; collectionLines += joined(g) }
    for (_ <- 0 until 2500) { val g = noiseGram(2 + r.nextInt(4)); vocab += g; collectionLines += joined(g) }
    for ((name, lines) <- Seq("phrases" -> phraseLines, "collections" -> collectionLines)) {
      val d = Files.createDirectories(dir.resolve(name))
      val w = Io.writer(d.resolve("part-00000.txt"))
      lines.foreach(l => w.write(l + "\n"))
      w.close()
    }

    // --- expected stats from the canonical tokens
    val oracle = new StatsOracle(nTypes + sentinels.length, vocab.toSeq, t => t >= nTypes)
    docs.indices.foreach { d =>
      oracle.addDoc(docs(d), docSubs(d).flatMap(sourcesOf))
    }
    val (global, bySource) = oracle.fingerprints(tokStr)

    Io.writeProps(dir.resolve("expected.properties"), Seq(
      "docs" -> nDocs, "corpus_bytes" -> bytes,
      "global_rows" -> global.rows, "global_sum" -> global.sum,
      "by_source_rows" -> bySource.rows, "by_source_sum" -> bySource.sum,
      "vocabulary_lines" -> vocab.length, "word_types" -> nTypes,
      "sentinels" -> sentinels.length))
  }

  /** Global and per-source DF/TF/tdsum over ≤6-grams: unigrams except
    * `nferdoccount_<n>` pseudo-tokens, multigrams only when in the
    * vocabulary. Multigram membership is a trie over vocabulary token ids,
    * so each start position stops at the first prefix no entry extends. */
  final class StatsOracle(nTypes: Int, vocab: Seq[Array[Int]], isSentinel: Int => Boolean) {
    private val children = new java.util.HashMap[java.lang.Long, Integer]()
    private val parent = ArrayBuffer[Int]()
    private val last = ArrayBuffer[Int]()
    private val terminal = ArrayBuffer[Boolean]()
    private def key(node: Int, tok: Int): java.lang.Long = (node.toLong << 32) | tok

    vocab.foreach { g =>
      var node = g(0)
      var i = 1
      while (i < g.length) {
        val k = key(node, g(i))
        val c = children.get(k)
        node =
          if (c != null) c.intValue
          else {
            val id = nTypes + parent.length
            parent += node; last += g(i); terminal += false
            children.put(k, id); id
          }
        i += 1
      }
      if (g.length > 1) terminal(node - nTypes) = true
    }

    private val nNodes = nTypes + parent.length
    private val df = new Array[Long](nNodes * (NSources + 1))
    private val tf = new Array[Long](nNodes * (NSources + 1))
    private val td = new Array[Long](nNodes * (NSources + 1))

    def addDoc(doc: Array[Int], sources: Seq[Int]): Unit = {
      val local = new java.util.HashMap[Integer, Integer]()
      def inc(n: Int): Unit = local.merge(n, 1, (a: Integer, b: Integer) => a + b)
      var i = 0
      while (i < doc.length) {
        if (!isSentinel(doc(i))) inc(doc(i))
        var node = doc(i)
        var n = 2
        var go = true
        while (go && n <= MaxNgrams && i + n - 1 < doc.length) {
          val c = children.get(key(node, doc(i + n - 1)))
          if (c == null) go = false
          else {
            node = c.intValue
            if (terminal(node - nTypes)) inc(node)
            n += 1
          }
        }
        i += 1
      }
      val wc = doc.length
      local.forEach { (node, count) =>
        // slot 0 is global, slot 1+s is source s
        (0 +: sources.map(_ + 1)).foreach { slot =>
          val at = slot * nNodes + node
          df(at) += 1; tf(at) += count.intValue; td(at) += wc
        }
      }
    }

    private def nodeString(node: Int, tokStr: Int => String): String =
      if (node < nTypes) tokStr(node)
      else nodeString(parent(node - nTypes), tokStr) + " " + tokStr(last(node - nTypes))

    /** (stats_global, stats_by_source) fingerprints; by-source rows carry the
      * source name first, as the partitioned output's directory does. */
    def fingerprints(tokStr: Int => String): (Fingerprint, Fingerprint) = {
      var global = Fingerprint.Empty
      var bySource = Fingerprint.Empty
      for (slot <- 0 to NSources; node <- 0 until nNodes) {
        val at = slot * nNodes + node
        if (df(at) > 0) {
          val row = s"${nodeString(node, tokStr)}\t${df(at)}\t${tf(at)}\t${td(at)}"
          if (slot == 0) global += row
          else bySource += s"source${slot - 1}\t$row"
        }
      }
      (global, bySource)
    }
  }
}
