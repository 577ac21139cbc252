package perfbench

import graft.SparkEntry
import graft.spark.{CorpusGen, DocRow, GraftFunctions, MetricsRow, Pipeline, SpanRow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{call_function, col}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark workload. `setup` builds the inputs from the seed (called
  * several times, the last inputs are used); `pass` runs the workload once
  * over them and returns its wall seconds; `check` verifies the last pass. */
trait Workload {
  def name: String
  /** Documents (or table rows × queries) one pass processes. */
  def units: Double
  def setup(rep: Int): Unit
  def pass(i: Int, tracer: Tracer): Double
  /** Untimed passes before timing: enough work for JIT and codegen to
    * settle (0: the workload times its cold first pass). */
  def warmPasses: Int
  /** (attempted, failed, messages) for the outputs of the last pass. */
  def check(): (Long, Long, Seq[String])
  /** Documents for the single-thread layer pass. */
  def layerDocs: Seq[DocRow]
  /** Input of the paired 1-task vs 4-task kernel pass. */
  def scaleInput: DataFrame
  /** Per-layer metrics only this workload's path has, from the traced pass. */
  def pathMetrics: Map[String, Double]
  def inputBytes: Long
  /** Files the run.py side needs (path by role). */
  def artifacts: Map[String, String] = Map.empty
}

/** Interleaved-document corpus built by `CorpusGen.genDoc`, with an
  * optional sparse tail of giant docs (ids divisible by `giantEvery` are
  * generated at `giantScale` blocks instead of `blocksScale`). */
final case class CorpusSpec(n: Int, blocksScale: Int, giantEvery: Int, giantScale: Int,
                            files: Int) {
  def gen(seed: Long, id: Long): CorpusGen.GenDoc = CorpusGen.genDoc(id, seed, giantEvery,
    if (id > 0 && id % giantEvery == 0) giantScale else blocksScale)
}

object Corpus {
  def write(spark: SparkSession, spec: CorpusSpec, seed: Long, path: Path): Unit = {
    import spark.implicits._
    spark.range(0, spec.n, 1, spec.files)
      .map { id => val g = spec.gen(seed, id); DocRow(g.doc_id, g.spans) }
      .write.mode("overwrite").parquet(path.toString)
  }

  def sample(spec: CorpusSpec, seed: Long, k: Int): Seq[DocRow] =
    (0L until math.min(k, spec.n).toLong).map { id => val g = spec.gen(seed, id); DocRow(g.doc_id, g.spans) }

  /** Per-doc span-sequence equality against the generator's constructive
    * expected spans for the same (seed, id, blocks), computed where the
    * output rows are (each doc is regenerated from its id). Every id of the
    * corpus must appear exactly once; planted garbage-* docs are counted
    * but their spans are not compared. Returns (checked docs, failing docs,
    * examples). */
  def check(spark: SparkSession, spec: CorpusSpec, seed: Long,
            out: DataFrame): (Long, Long, Seq[String]) = {
    import spark.implicits._
    val verdicts = out.select(col("doc_id"), col("spans")).as[DocRow].map { d =>
      val id = d.doc_id.substring(d.doc_id.lastIndexOf('-') + 1).toLong
      val g = spec.gen(seed, id)
      val ok = g.doc_id == d.doc_id && (g.garbage || g.expected == d.spans)
      (id, g.garbage, ok)
    }.collect()
    val copies = verdicts.groupBy(_._1).map { case (id, vs) => id -> vs.length }
    val missing = (0L until spec.n).filterNot(copies.contains)
    val repeated = copies.filter(_._2 > 1).keys.toSeq.sorted
    val wrong = verdicts.filter(v => !v._3).map(_._1).sorted
    val checked = verdicts.count(v => !v._2).toLong
    val examples = Seq(
      if (wrong.nonEmpty) Some(s"${wrong.length} docs differ from expected, e.g. ids ${wrong.take(3).mkString(",")}") else None,
      if (missing.nonEmpty) Some(s"${missing.length} docs missing, e.g. ids ${missing.take(3).mkString(",")}") else None,
      if (repeated.nonEmpty) Some(s"${repeated.length} docs repeated, e.g. ids ${repeated.take(3).mkString(",")}") else None
    ).flatten
    (checked + missing.length, (wrong.distinct.length + missing.length + repeated.length).toLong, examples)
  }
}

/** Wraps a `Pipeline.BatchSink`, timing each batch commit and metrics append. */
final class TimedSink(inner: Pipeline.BatchSink, tracer: Tracer) extends Pipeline.BatchSink {
  val batchSeconds = mutable.ArrayBuffer.empty[Double]
  var appendSeconds = 0.0

  def isBatchCommitted(batchId: Int): Boolean = inner.isBatchCommitted(batchId)

  def writeBatch(batchId: Int, out: Dataset[DocRow]): Unit = {
    val (_, s) = Stats.seconds(tracer.span(s"pipeline.batch_write")(inner.writeBatch(batchId, out)))
    batchSeconds += s
  }

  def appendMetrics(spark: SparkSession, rows: Seq[MetricsRow]): Unit = {
    val (_, s) = Stats.seconds(tracer.span("pipeline.metrics_append")(inner.appendMetrics(spark, rows)))
    appendSeconds += s
  }
}

/** `Main extract`'s path: `Pipeline.runBatched` with default batching, a
  * parquet commit and lineage rows, into fresh output and metrics dirs. */
final class ExtractBatched(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val name = "extract_batched"
  val spec = CorpusSpec(n = 16000, blocksScale = 1, giantEvery = 5000, giantScale = 48, files = 8)
  val numBatches = 8
  // the first two passes still run slow (JIT of the driver-side code)
  val warmPasses = 2
  def units: Double = spec.n
  private var input: Path = _
  private var lastOut: Path = _
  private var lastMetrics: Path = _
  private var sink: TimedSink = _

  private def cfg = Pipeline.Config(
    partitions = spark.sparkContext.defaultParallelism * 2, numBatches = numBatches)

  def setup(rep: Int): Unit = {
    if (input != null) Proc.deleteTree(input)
    input = work.resolve(s"input-$rep")
    Corpus.write(spark, spec, seed, input)
  }

  def inputBytes: Long = Proc.dirBytes(input)

  def pass(i: Int, tracer: Tracer): Double = {
    if (lastOut != null) { Proc.deleteTree(lastOut); Proc.deleteTree(lastMetrics) }
    lastOut = work.resolve(s"out-$i")
    lastMetrics = work.resolve(s"metrics-$i")
    val (_, s) = Stats.seconds {
      val in = spark.read.parquet(input.toString)
      if (!tracer.enabled)
        Pipeline.runBatched(spark, in, lastOut.toString, lastMetrics.toString, cfg)
      else {
        sink = new TimedSink(new Pipeline.ParquetDirSink(lastOut.toString, lastMetrics.toString), tracer)
        Pipeline.runBatched(spark, in, sink, cfg)
      }
    }
    s
  }

  private def lineage(): Array[MetricsRow] = {
    import spark.implicits._
    spark.read.parquet(lastMetrics.toString).as[MetricsRow].collect()
  }

  def check(): (Long, Long, Seq[String]) = {
    val (n, bad, ex) = Corpus.check(spark, spec, seed, Pipeline.readOutput(spark, lastOut.toString))
    // lineage: exactly one row per (batch, partition), every batch present
    // with the same partition count, and docs_in summing to the corpus
    val rows = lineage()
    val keys = rows.map(r => (r.batch_id, r.partition_id))
    val perBatch = rows.groupBy(_.batch_id).map { case (b, rs) => b -> rs.length }
    val docsIn = rows.map(_.docs_in).sum
    val problems = Seq(
      if (keys.distinct.length != keys.length) Some("lineage: duplicate (batch, partition) rows") else None,
      if (perBatch.keySet != (0 until numBatches).toSet) Some(s"lineage: batches ${perBatch.keySet.toSeq.sorted}") else None,
      if (perBatch.values.toSet.size > 1) Some(s"lineage: uneven partition rows $perBatch") else None,
      if (docsIn != spec.n) Some(s"lineage: docs_in sums to $docsIn, corpus has ${spec.n}") else None
    ).flatten
    val lineageFailed = if (problems.isEmpty) 0L else math.max(1L, math.abs(docsIn - spec.n))
    (n, bad + lineageFailed, ex ++ problems)
  }

  def layerDocs: Seq[DocRow] = Corpus.sample(spec, seed, 6400)

  def scaleInput: DataFrame = spark.read.parquet(input.toString)

  def pathMetrics: Map[String, Double] = {
    val rows = lineage()
    Map(
      "pipeline.batch_s_p50" -> Stats.median(sink.batchSeconds.toSeq),
      "pipeline.batch_s_max" -> sink.batchSeconds.max,
      "pipeline.metrics_append_s" -> sink.appendSeconds,
      "pipeline.lineage_rows" -> rows.length.toDouble,
      "pipeline.lineage_docs_in" -> rows.map(_.docs_in).sum.toDouble)
  }
}

/** The SQL surface users call themselves: `extract_interleaved_spans` over
  * a table of heavy documents, no repartition, written to parquet. */
final class SqlExtractHeavy(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val name = "sql_extract_heavy"
  val spec = CorpusSpec(n = 24000, blocksScale = 8, giantEvery = Int.MaxValue, giantScale = 8, files = 16)
  // kernel-bound: pass times keep falling over the first ~70k parsed docs
  val warmPasses = 3
  def units: Double = spec.n
  private var input: Path = _
  private var lastOut: Path = _
  private var writeSeconds = 0.0

  def setup(rep: Int): Unit = {
    GraftFunctions.registerAll(spark)
    if (input != null) Proc.deleteTree(input)
    input = work.resolve(s"input-$rep")
    Corpus.write(spark, spec, seed, input)
  }

  def inputBytes: Long = Proc.dirBytes(input)

  def pass(i: Int, tracer: Tracer): Double = {
    if (lastOut != null) Proc.deleteTree(lastOut)
    lastOut = work.resolve(s"out-$i")
    val (_, s) = Stats.seconds {
      spark.read.parquet(input.toString).createOrReplaceTempView("docs")
      tracer.span("sql.write") {
        spark.sql("SELECT doc_id, extract_interleaved_spans(spans) AS spans FROM docs")
          .write.mode("overwrite").parquet(lastOut.toString)
      }
    }
    writeSeconds = s
    s
  }

  def check(): (Long, Long, Seq[String]) =
    Corpus.check(spark, spec, seed, spark.read.parquet(lastOut.toString))

  def layerDocs: Seq[DocRow] = Corpus.sample(spec, seed, 6400)

  def scaleInput: DataFrame = spark.read.parquet(input.toString).limit(12000)

  def pathMetrics: Map[String, Double] = Map(
    "pipeline.batch_s_p50" -> writeSeconds,
    "pipeline.batch_s_max" -> writeSeconds)
}

/** A seeded `documents` table in the shape of the suite's sf0.1 table:
  * 5000 rows of 10-99 words from a 30-word vocabulary, ~5% planted " dup"
  * near-copies and a few exact duplicate texts. */
object DocumentsTable {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val otherLangs = Array("de", "es", "fr", "zh")

  def rows(seed: Long, n: Int = 5000): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val words = 10 + rnd.nextInt(90)
      val fresh = (0 until words).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val roll = rnd.nextInt(1000)
      val text =
        if (i > 0 && roll < 50) texts(rnd.nextInt(i)).split(' ').take(2 + rnd.nextInt(12)).mkString(" ") + " dup"
        else if (i > 0 && roll < 54) texts(rnd.nextInt(i))
        else fresh
      texts(i) = text
      val lang = if (rnd.nextInt(100) < 41) "en" else otherLangs(rnd.nextInt(otherLangs.length))
      Doc(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** The html page q_html_markdown builds from a row. */
  def page(d: Doc): String = {
    val id = d.doc_id.toString
    val a = md5Hex(id).take(6)
    val b = md5Hex(id + "b").take(6)
    s"<h1>H$a</h1><p>P${d.text.take(12)} <strong>S$b</strong> <em>E</em> <code>C$a" +
      s"</code></p><ul><li>U1$a</li><li>U2<ul><li>N$b</li></ul></li></ul>" +
      s"<ol><li>O1</li><li>O2$a</li></ol><blockquote><p>Q$b</p><p>R</p></blockquote>" +
      s"<pre>PRE_$a</pre><hr><p><a href=\"/u/${d.source}\">L$a</a><br>tail " +
      s"<img src=\"/i.png\" alt=\"A$b\"> <a name=\"n\">plain</a></p>" +
      s"<table><tr><th>h1</th><th>h2</th></tr><tr><td>c|1</td><td>c2$a</td></tr></table>" +
      s"<script>skip()</script><div>tail $a</div>"
  }
}

/** A fixed mix of suite queries over a seeded `documents` table; the seed
  * also permutes the query order. Each query's result is written to parquet
  * (the committed result the DuckDB oracle comparison reads). Untraced runs
  * time the first, cold pass: a suite run pays it once per query. */
final class CorpusOps(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val name = "corpus_ops"
  val mix: Seq[String] = CorpusOps.mix
  val order: Seq[String] = new scala.util.Random(seed).shuffle(mix)
  private var rows: IndexedSeq[DocumentsTable.Doc] = _
  private var tables: Path = _
  private val results: Path = work.resolve("results")
  private val errors = mutable.LinkedHashMap.empty[String, String]
  /** Per-query seconds and census deltas of the last pass. */
  private val lastSeconds = mutable.LinkedHashMap.empty[String, Double]
  private val lastCensus = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var census: Census = _

  def units: Double = rows.length.toDouble * mix.length

  def setup(rep: Int): Unit = {
    import spark.implicits._
    if (tables != null) Proc.deleteTree(tables)
    tables = work.resolve(s"tables-$rep")
    rows = DocumentsTable.rows(seed)
    spark.createDataset(rows).toDF().coalesce(1)
      .write.mode("overwrite").parquet(tables.resolve("documents.parquet").toString)
  }

  def inputBytes: Long = Proc.dirBytes(tables)

  def withCensus(c: Census): Unit = census = c

  val warmPasses = 0

  def pass(i: Int, tracer: Tracer): Double = {
    lastSeconds.clear(); lastCensus.clear()
    order.foreach { q =>
      try {
        val before = if (census != null) { census.settle(); Some(census.snap()) } else None
        val (_, s) = Stats.seconds(tracer.span(s"ops.$q") {
          SparkEntry.queries(q)(spark, tables.toString)
            .write.mode("overwrite").parquet(results.resolve(q).toString)
        })
        lastSeconds(q) = s
        System.err.println(s"[perfbench] corpus_ops: $q $s s")
        before.foreach { b =>
          census.settle()
          val a = census.snap()
          lastCensus(q) = (a.jobs - b.jobs, a.shuffleBytes - b.shuffleBytes)
        }
      } catch { case NonFatal(e) =>
        errors.getOrElseUpdate(q, s"$q threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    lastSeconds.values.sum
  }

  override def artifacts: Map[String, String] = {
    val f = work.resolve("oracle_sql.json")
    Files.write(f, Json.render(mix.map(q => q -> SparkEntry.oracleSql(q)).toMap)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Map("oracle_sql" -> f.toString, "tables" -> tables.toString, "results" -> results.toString)
  }

  /** Query failures only; the oracle comparison runs after the JVM exits. */
  def check(): (Long, Long, Seq[String]) =
    (mix.length.toLong, errors.size.toLong, errors.values.toSeq)

  def layerDocs: Seq[DocRow] =
    rows.map(d => DocRow(d.doc_id.toString, Seq(SpanRow("html", DocumentsTable.page(d), "", 0))))

  def scaleInput: DataFrame = {
    import spark.implicits._
    spark.createDataset(layerDocs).toDF()
  }

  def pathMetrics: Map[String, Double] = {
    val secs = lastSeconds.values.toSeq
    Map("pipeline.batch_s_p50" -> Stats.median(secs), "pipeline.batch_s_max" -> secs.max) ++
      mix.flatMap { q =>
        val (jobs, shuffle) = lastCensus.getOrElse(q, (0L, 0L))
        Seq(s"ops.$q.s" -> lastSeconds.getOrElse(q, 0.0),
          s"ops.$q.jobs" -> jobs.toDouble, s"ops.$q.shuffle_bytes" -> shuffle.toDouble)
      }
  }
}

object CorpusOps {
  val mix: Seq[String] = Seq("q_segment_manifest", "q_dedup_eval", "q_redirects", "q_ann_ivf",
    "q_crawl_frontier", "q_fuzzy_dedup", "q_stream_dedup_ttl", "q_minhash_dedup",
    "q_warc_charset", "q_warc_extract", "q_html_markdown")
}
