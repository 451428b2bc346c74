package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Inputs of the `datapipe-dense` workload: `(doc_id, source, text)` from
  * the same Zipf text generator, with the dense duplicate mix:
  *
  *  - ~20% of documents are exact duplicates of another (half byte-equal,
  *    half equal only after normalization);
  *  - 5-document near-duplicate groups, each variant a few token edits
  *    away from the group's base;
  *  - ~2% documents too short to pass the quality floor;
  *  - ~800 documents contaminated with a span of a held-out evaluation
  *    document, whose ids are written to `planted.txt`.
  *
  * The expected survivor counts of the quality floor and of exact dedup
  * are computed here from the canonical texts. */
object DpInputs {
  val NSources = 5
  val NEvalDocs = 200
  val NPlanted = 800
  val SpanTokens = 40

  private final case class Doc(toks: Array[String], source: Int)

  /** The pipeline's quality floor, evaluated on canonical tokens. */
  def qualifies(toks: Array[String]): Boolean = {
    val wc = toks.length
    val diversity = toks.distinct.length.toDouble / math.max(wc, 1)
    val quality = math.min(wc / 100.0, 1.0) * 0.5 + diversity * 0.5
    quality >= 0.3 && wc >= 5
  }

  /** Writes `(doc_id, text)` or `(doc_id, source, text)` rows as snappy
    * parquet files under `dir`, without starting Spark. */
  private def writeParquet(dir: Path, rows: Seq[(Long, Option[String], String)], files: Int): Unit = {
    val withSource = rows.headOption.exists(_._2.isDefined)
    val schema = MessageTypeParser.parseMessageType(
      "message doc { optional int64 doc_id; " +
        (if (withSource) "optional binary source (UTF8); " else "") +
        "optional binary text (UTF8); }")
    val groups = new SimpleGroupFactory(schema)
    val per = (rows.length + files - 1) / files
    rows.grouped(math.max(1, per)).zipWithIndex.foreach { case (part, i) =>
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(dir.resolve(f"part-$i%05d.snappy.parquet").toUri))
        .withType(schema).withConf(new Configuration())
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try part.foreach { case (id, source, text) =>
        val g = groups.newGroup().append("doc_id", id)
        source.foreach(g.append("source", _))
        w.write(g.append("text", text))
      } finally w.close()
    }
  }

  def generate(seed: Long, dir: Path, targetBytes: Long): Unit = {
    val gen = new TextGen(seed)
    val r = new SplittableRandom(seed)
    def draw(len: Int): Array[String] = gen.drawDoc(r, len).map(gen.words)
    def drawSource(): Int = math.min(NSources - 1, (-math.log(r.nextDouble()) * 1.5).toInt)

    val evalDocs = Array.fill(NEvalDocs)(draw(math.max(SpanTokens + 10, gen.drawLength(r))))
    val docs = ArrayBuffer[Doc]()
    val planted = mutable.HashSet[Int]()
    // approximate bytes per token of rendered text, to size by bytes
    var approxBytes = 0L
    def add(d: Doc): Int = {
      docs += d
      approxBytes += d.toks.iterator.map(_.length + 1).sum
      docs.length - 1
    }
    val originals = ArrayBuffer[Int]()
    while (approxBytes < targetBytes) {
      r.nextInt(100) match {
        case k if k < 4 => // near-duplicate group of 5 (one draw per 20 docs)
          val base = draw(math.max(60, gen.drawLength(r)))
          val src = drawSource()
          add(Doc(base, src))
          for (_ <- 0 until 4) {
            val v = base.clone()
            for (_ <- 0 until 1 + r.nextInt(3)) {
              val at = r.nextInt(v.length)
              var w = v(at)
              while (w == v(at)) w = gen.words(gen.drawWord(r))
              v(at) = w
            }
            add(Doc(v, src))
          }
        case k if k < 6 => add(Doc(draw(3 + r.nextInt(2)), drawSource()))
        case _ => originals += add(Doc(draw(gen.drawLength(r)), drawSource()))
      }
    }
    // exact duplicates: ~20% of the final corpus are copies of originals
    val nCopies = docs.length / 4
    val shuffledOriginals = originals.toArray
    val copyOf = ArrayBuffer[Int]()
    for (_ <- 0 until nCopies) {
      val o = shuffledOriginals(r.nextInt(shuffledOriginals.length))
      copyOf += o
      add(Doc(docs(o).toks, docs(o).source))
    }
    // contamination: long originals that were not copied get an eval-doc
    // span (long, so two docs sharing a span are never near-duplicates)
    val copied = copyOf.toSet
    val candidates = shuffledOriginals
      .filter(d => !copied.contains(d) && docs(d).toks.length >= 60)
    for (k <- candidates.length - 1 to 1 by -1) {
      val j = r.nextInt(k + 1); val t = candidates(k); candidates(k) = candidates(j); candidates(j) = t
    }
    candidates.take(NPlanted).foreach { d =>
      planted += d
      val e = evalDocs(r.nextInt(NEvalDocs))
      val at = r.nextInt(e.length - SpanTokens + 1)
      docs(d) = docs(d).copy(toks = docs(d).toks ++ e.slice(at, at + SpanTokens))
    }
    // a copy duplicates its original byte-for-byte half of the time,
    // otherwise it is a fresh rendering of the same canonical text
    val raw = new Array[String](docs.length)
    docs.indices.foreach { d => raw(d) = gen.render(docs(d).toks, r) }
    val nOriginalsEnd = docs.length - nCopies
    copyOf.indices.foreach { c =>
      if (r.nextBoolean()) raw(nOriginalsEnd + c) = raw(copyOf(c))
    }

    // ids are a seeded permutation, so duplicates are spread over the input
    val perm = (0 until docs.length).toArray
    for (k <- perm.length - 1 to 1 by -1) {
      val j = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t
    }
    val rows = docs.indices.map(d => (perm(d).toLong, Option(s"source${docs(d).source}"), raw(d)))
      .sortBy(_._1)

    val qualified = docs.iterator.map(_.toks).filter(qualifies).toSeq
    val afterExact = qualified.iterator.map(TextGen.canonical).toSet.size
    val textBytes = raw.iterator.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum

    writeParquet(dir.resolve("docs"), rows, files = 8)
    writeParquet(dir.resolve("bench"),
      evalDocs.indices.map(e => (e.toLong, None, gen.render(evalDocs(e), r))), files = 1)
    Io.writeText(dir.resolve("planted.txt"),
      planted.toSeq.map(d => perm(d)).sorted.mkString("", "\n", "\n"))

    Io.writeProps(dir.resolve("expected.properties"), Seq(
      "docs_in" -> docs.length, "text_bytes" -> textBytes,
      "after_quality" -> qualified.length, "after_exact_dedup" -> afterExact,
      "planted" -> planted.size, "exact_copies" -> nCopies))
  }
}
