package perfbench

import graft.html.{ArenaParse, Encodings, Extractor, HtmlParser, Node, Span, TextPrep}
import graft.spark.{DocRow, HtmlUdfs}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets

/** Single-thread per-layer pass over a workload's documents, timed from
  * outside through each layer's public entry point:
  *
  *  - html.tokenize: `HtmlParser.tokenizeWith`;
  *  - html.tree: `ArenaParse.withDoc` parse time minus tokenize time;
  *  - html.walk: `Extractor.extract`, timed inside `withDoc`;
  *  - html.sniff_decode: `Encodings.sniff` + `decode` of the UTF-8 bytes;
  *  - spark.kernel: `HtmlUdfs.extractInterleaved` per document;
  *  - spark.row_encode: the kernel's span-to-row encode, replayed over the
  *    already-extracted spans.
  *
  * The sum tokenize + tree + walk + row_encode is reconciled against
  * kernel. JIT warm-up rounds run before the timed rounds. */
object Layers {
  @volatile var blackhole = 0L

  final class Sample(docs: Seq[DocRow]) {
    val n: Int = docs.length
    val html: Array[Array[String]] = docs.map(d =>
      d.spans.filter(s => s.kind == "html" && s.text != null && s.text.nonEmpty)
        .map(_.text).toArray).toArray
    val bytes: Array[Array[Array[Byte]]] =
      html.map(_.map(_.getBytes(StandardCharsets.UTF_8)))
    val kernelIn: Array[ArrayData] = docs.map { d =>
      new GenericArrayData(d.spans.map { s =>
        InternalRow(UTF8String.fromString(s.kind), UTF8String.fromString(s.text),
          UTF8String.fromString(s.media_ref), s.offset)
      }.toArray[Any]): ArrayData
    }.toArray
    /** Extracted spans per input span (html) for the encode replay. */
    val extracted: Array[Array[Seq[Span]]] =
      html.map(_.map(h => Extractor.extractHtml(h)))
  }

  private def countNodes(n: Node): Long = {
    var c = 1L
    var k = n.firstChild
    while (k != null) { c += countNodes(k); k = k.next }
    c
  }

  /** The kernel's encode step (HtmlUdfs.extractInterleaved) over spans that
    * are already extracted: html spans become rows, text and media spans
    * pass through. */
  private def encode(in: ArrayData, extracted: Array[Seq[Span]]): ArrayData = {
    val n = in.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n * 4)
    var i = 0
    var h = 0
    while (i < n) {
      val row = in.getStruct(i, 4)
      row.getUTF8String(0).toString match {
        case "html" =>
          if (row.getUTF8String(1).numBytes() > 0) {
            val base = row.getInt(3)
            extracted(h).foreach { sp =>
              out += InternalRow(UTF8String.fromString(sp.kind),
                UTF8String.fromString(sp.text),
                UTF8String.fromString(sp.media_ref), base + sp.offset)
            }
            h += 1
          }
        case "text" =>
          val text = row.getUTF8String(1)
          if (!TextPrep.isWhitespaceOnly(text.toString))
            out += InternalRow(UTF8String.fromString("text"), text.clone(),
              UTF8String.EMPTY_UTF8, row.getInt(3))
        case "media" =>
          val ref = row.getUTF8String(2)
          if (ref.numBytes() > 0)
            out += InternalRow(UTF8String.fromString("media"),
              UTF8String.EMPTY_UTF8, ref.clone(), row.getInt(3))
        case _ =>
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private final class Round {
    var tokenizeNs, parseNs, walkNs, sniffNs, kernelNs, encodeNs = 0L
  }

  /** One timed round. Layers are interleaved chunk by chunk, so every layer
    * samples the same stretches of machine noise. */
  private def round(s: Sample, tracer: Tracer, chunk: Int = 64): Round = {
    val r = new Round
    var sink = 0L
    var walk = 0L
    def timed(name: String, from: Int, to: Int)(f: Int => Unit): Long = tracer.span(name) {
      val t0 = System.nanoTime()
      var i = from
      while (i < to) { f(i); i += 1 }
      System.nanoTime() - t0
    }
    var from = 0
    while (from < s.n) {
      val to = math.min(s.n, from + chunk)
      r.tokenizeNs += timed("html.tokenize", from, to)(i =>
        s.html(i).foreach(h => HtmlParser.tokenizeWith(h)(_ => sink += 1)))
      r.parseNs += timed("html.parse", from, to)(i =>
        s.html(i).foreach(h => ArenaParse.withDoc(h)(doc => sink += doc.kind)))
      walk = 0L
      timed("html.parse_walk", from, to)(i =>
        s.html(i).foreach(h => ArenaParse.withDoc(h) { doc =>
          val t0 = System.nanoTime()
          sink += Extractor.extract(doc).length
          walk += System.nanoTime() - t0
        }))
      r.walkNs += walk
      r.sniffNs += timed("html.sniff_decode", from, to)(i =>
        s.bytes(i).foreach(b => sink += Encodings.decode(b, Encodings.sniff(b)).length))
      r.kernelNs += timed("spark.kernel", from, to)(i =>
        sink += HtmlUdfs.extractInterleaved(s.kernelIn(i)).numElements())
      r.encodeNs += timed("spark.row_encode", from, to)(i =>
        sink += encode(s.kernelIn(i), s.extracted(i)).numElements())
      from = to
    }
    blackhole = sink  // keeps the timed work observable
    r
  }

  /** Work counts; they repeat exactly for the same inputs. */
  private def counts(s: Sample): Map[String, Double] = {
    var tokens = 0L
    var nodes = 0L
    var spans = 0L
    s.html.foreach(_.foreach { h =>
      HtmlParser.tokenizeWith(h)(_ => tokens += 1)
      ArenaParse.withDoc(h) { doc => nodes += countNodes(doc); spans += Extractor.extract(doc).length }
    })
    val n = math.max(1, s.n).toDouble
    Map("html.tokens_per_doc" -> tokens / n, "html.nodes_per_doc" -> nodes / n,
      "html.spans_per_doc" -> spans / n)
  }

  def run(docs: Seq[DocRow], tracer: Tracer, warmRounds: Int = 2,
          timedRounds: Int = 3): Map[String, Double] = {
    val s = new Sample(docs)
    (0 until warmRounds).foreach(_ => round(s, new Tracer(false)))
    val rounds = (0 until timedRounds).map(_ => tracer.span("layers.round")(round(s, tracer)))
    def us(f: Round => Long): Double = Stats.median(rounds.map(r => f(r) / 1e3 / s.n))
    val tok = us(_.tokenizeNs)
    val tree = us(_.parseNs) - tok
    val walk = us(_.walkNs)
    val kernel = us(_.kernelNs)
    val enc = us(_.encodeNs)
    counts(s) ++ Map(
      "html.tokenize_us" -> tok,
      "html.tree_us" -> tree,
      "html.walk_us" -> walk,
      "html.sniff_decode_us" -> us(_.sniffNs),
      "spark.kernel_us" -> kernel,
      "spark.row_encode_us" -> enc,
      "trace.reconcile_err" -> ((tok + tree + walk + enc) - kernel) / kernel)
  }
}
