package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  /** UTF-8 bytes of a doc's span texts: the unit of `maxDocBytes` and
    * `giantThresholdBytes`, counted here independently of the pipeline. */
  def utf8Bytes(d: DocRow): Long =
    d.spans.iterator.map(s => if (s == null || s.text == null) 0L
      else s.text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
}

/** Pipeline E2E (FIXTURES.md §6 t1/t2): constructive expected spans vs
  * engine output, per-row ordered equality — BASELINE.json's correctness
  * invariant. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark

  test("t1 smoke: 200 docs — span-sequence equality vs constructive expected") {
    import spark.implicits._
    val n = 200
    val input = CorpusGen.inputDs(spark, n, parallelism = 4)
    val expected = CorpusGen.expectedDf(spark, n, parallelism = 4).as[DocRow]
    val (out, _) = Pipeline.extract(spark, input.toDF(),
      Pipeline.Config(partitions = 4, giantBuckets = 2, numBatches = 2))
    val got = out.collect().map(d => d.doc_id -> d.spans).toMap
    val exp = expected.collect().map(d => d.doc_id -> d.spans).toMap
    assert(got.keySet == exp.keySet)
    var checked = 0
    exp.foreach { case (id, expSpans) =>
      if (!id.startsWith("garbage-")) {
        assert(got(id) == expSpans,
          s"span mismatch for $id\n got: ${got(id).take(5)}\n exp: ${expSpans.take(5)}")
        checked += 1
      } else {
        // garbage docs must not fail the job; spans may be anything
        assert(got.contains(id))
      }
    }
    assert(checked > 150, s"too few non-garbage docs checked: $checked")
  }

  test("offsets index into the reconstructed source document") {
    import spark.implicits._
    val g = CorpusGen.genDoc(7)
    val source = {
      val sb = new StringBuilder
      g.spans.foreach { s =>
        assert(s.offset == sb.length, "input spans must tile the source")
        sb.append(if (s.kind == "media") "" else s.text)
      }
      sb.toString
    }
    val out = Seq(DocRow(g.doc_id, g.spans)).toDF()
      .select(GraftFunctions.extract_interleaved_spans(col("spans")))
      .as[Seq[SpanRow]].collect().head
    assert(out.nonEmpty)
    out.filter(s => s.kind != "media").foreach { s =>
      val at = source.indexOf(s.text.take(10), s.offset)
      assert(at == s.offset || s.text.contains(" "), // entity-encoded block rewrites
        s"offset ${s.offset} does not locate '${s.text.take(20)}'")
    }
  }

  test("metrics lineage: docs_in == docs_ok + docs_failed, counts match input") {
    import spark.implicits._
    val n = 300
    val input = CorpusGen.inputDs(spark, n, parallelism = 4)
    val (out, acc) = Pipeline.extract(spark, input.toDF(),
      Pipeline.Config(partitions = 4, giantBuckets = 2))
    out.write.mode("overwrite").parquet("/tmp/graft-test/metrics-out")
    val rows = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
    assert(rows.map(_.docs_in).sum == n)
    assert(rows.map(_.docs_ok).sum + rows.map(_.docs_failed).sum == n.toLong)
    assert(rows.map(_.spans_out).sum > 0)
    assert(rows.filter(_.docs_in > 0)
      .forall(r => r.first_doc_id.nonEmpty && r.last_doc_id.nonEmpty))
  }

  test("salted repartition: giant docs isolated from the bulk") {
    import spark.implicits._
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 2,
      giantThresholdBytes = 5000) // generator giants (~20 KB) exceed this
    val input = CorpusGen.inputDs(spark, 600, giantEvery = 100, parallelism = 4).toDF()
    val salted = Pipeline.saltedRepartition(input, cfg)
    val byPartition = salted.as[DocRow]
      .mapPartitions { it =>
        val docs = it.toSeq
        val giants = docs.count(d => SparkTestSession.utf8Bytes(d) > 5000)
        Iterator.single((giants, docs.length))
      }.collect()
    val giantParts = byPartition.filter(_._1 > 0)
    assert(giantParts.nonEmpty, "expected some giant docs")
    // partitions holding giants hold ONLY giants (dedicated buckets)
    giantParts.foreach { case (g, total) => assert(g == total,
      s"giant bucket mixed with bulk docs: $g of $total") }
  }

  test("batched run: resume skips committed batches and output is identical") {
    import spark.implicits._
    val base = "/tmp/graft-test/resume"
    val outDir = s"$base/out"
    val metricsDir = s"$base/metrics"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 1, numBatches = 4)
    val input = CorpusGen.inputDs(spark, 200, parallelism = 4).toDF()
    Pipeline.runBatched(spark, input, outDir, metricsDir, cfg)
    val full = Pipeline.readOutput(spark, outDir).as[DocRow].collect()
      .map(d => d.doc_id -> d.spans).toMap
    // kill-and-resume: delete two batch dirs, rerun, expect identical output
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/batch=1"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/batch=3"))
    Pipeline.runBatched(spark, input, outDir, metricsDir, cfg)
    val resumed = Pipeline.readOutput(spark, outDir).as[DocRow].collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(resumed == full)
    // metrics accumulated across both runs cover every batch at least once
    val m = spark.read.parquet(metricsDir)
    assert(m.select("batch_id").distinct().count() == 4)
  }

  test("a committed batch has the parquet schema of a DocRow Dataset") {
    import spark.implicits._
    val base = "/tmp/graft-test/batch-schema"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Pipeline.runBatched(spark, CorpusGen.inputDs(spark, 50, parallelism = 2).toDF(),
      s"$base/out", s"$base/metrics",
      Pipeline.Config(partitions = 2, giantBuckets = 1, numBatches = 1))
    Seq(DocRow("d", Seq(SpanRow("text", "t", "", 0)))).toDS()
      .write.parquet(s"$base/typed")
    def footer(dir: String) = {
      val part = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.length() > 0).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getPath), spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData finally r.close()
    }
    val sparkKey = org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport.SPARK_METADATA_KEY
    val (ours, typed) = (footer(s"$base/out/batch=0"), footer(s"$base/typed"))
    assert(ours.getSchema == typed.getSchema)
    assert(ours.getKeyValueMetaData.get(sparkKey) == typed.getKeyValueMetaData.get(sparkKey))
  }

  test("batched run scans each input row once, not once per batch") {
    import spark.implicits._
    val base = "/tmp/graft-test/scan-once"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val n = 200
    val reads = spark.sparkContext.longAccumulator("graft.test.reads")
    val input = CorpusGen.inputDs(spark, n, parallelism = 4)
      .map { d => reads.add(1); d }.toDF()
    Pipeline.runBatched(spark, input, s"$base/out", s"$base/metrics",
      Pipeline.Config(partitions = 4, giantBuckets = 1, numBatches = 4))
    assert(reads.value == n)
    assert(Pipeline.readOutput(spark, s"$base/out").count() == n)
  }

  test("batched run lineage: one row per (batch, partition); a resume appends only its batches") {
    import spark.implicits._
    val base = "/tmp/graft-test/lineage"
    val outDir = s"$base/out"
    val metricsDir = s"$base/metrics"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 1, numBatches = 4)
    val n = 200
    val input = CorpusGen.inputDs(spark, n, parallelism = 4).toDF()
    def lineage() = spark.read.parquet(metricsDir).as[MetricsRow].collect().toSeq

    Pipeline.runBatched(spark, input, outDir, metricsDir, cfg)
    val first = lineage()
    val perBatch = first.groupBy(_.batch_id)
    assert(perBatch.keySet == (0 until 4).toSet)
    perBatch.foreach { case (b, rows) =>
      assert(rows.map(_.partition_id).sorted == (0 until 5), s"batch $b: $rows")
    }
    assert(first.map(_.docs_in).sum == n)

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/batch=1"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/batch=3"))
    Pipeline.runBatched(spark, input, outDir, metricsDir, cfg)
    val appended = lineage().diff(first)
    assert(appended.map(_.batch_id).toSet == Set(1, 3))
    appended.groupBy(_.batch_id).foreach { case (b, rows) =>
      assert(rows.map(_.partition_id).sorted == (0 until 5), s"batch $b: $rows")
    }
    val rerunDocs = input.filter(
      pmod(xxhash64(col("doc_id")), lit(4)).isin(1, 3)).count()
    assert(appended.map(_.docs_in).sum == rerunDocs)

    // every batch committed: the rerun writes no file at all
    def files() = scala.jdk.CollectionConverters.CollectionHasAsScala(
        org.apache.commons.io.FileUtils.listFiles(new java.io.File(base), null, true))
      .asScala.map(f => f.getPath -> f.lastModified()).toSet
    val before = files()
    Pipeline.runBatched(spark, input, outDir, metricsDir, cfg)
    assert(files() == before)
  }

  test("lineage files written from the driver read back like Spark-written ones") {
    import spark.implicits._
    val dir = "/tmp/graft-test/metrics-compat"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val ours = Seq(
      MetricsRow(0, 0, 3, 2, 1, 17, 4096, 12, "doc-1", "doc-9"),
      MetricsRow(0, 1, 0, 0, 0, 0, 0, 0, "", ""))
    val theirs = Seq(MetricsRow(1, 0, 5, 5, 0, 40, 8192, 30, "doc-2", "doc-7"),
      MetricsRow(1, 3, 0, 0, 0, 0, 0, 1, "", ""))
    def parts() = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet
    Pipeline.appendMetricsFile(spark, dir, ours)
    val ourParts = parts()
    assert(ourParts.size == 1, ourParts)
    spark.createDataset(theirs).write.mode("append").parquet(dir)
    val sparkParts = parts() -- ourParts
    Pipeline.appendMetricsFile(spark, dir, Seq.empty) // no rows: no file
    assert(parts() == ourParts ++ sparkParts)
    // a crash mid-write leaves a hidden partial file behind
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".part-crashed.parquet"),
      "PAR1 truncated".getBytes("UTF-8"))

    val back = spark.read.parquet(dir).as[MetricsRow].collect().toSeq
    assert(back.sortBy(r => (r.batch_id, r.partition_id)) == ours ++ theirs)

    def footer(name: String) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir, name), spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData finally r.close()
    }
    val sparkKey = org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport.SPARK_METADATA_KEY
    val mine = footer(ourParts.head)
    sparkParts.map(footer).foreach { ref =>
      assert(mine.getSchema == ref.getSchema)
      assert(mine.getKeyValueMetaData.get(sparkKey) == ref.getKeyValueMetaData.get(sparkKey))
    }
    def readSchema(n: String) = spark.read.parquet(s"$dir/$n").schema
    sparkParts.foreach(n => assert(readSchema(ourParts.head) == readSchema(n)))
  }

  test("batched run: one Spark job per batch plus the shared shuffle") {
    val base = "/tmp/graft-test/job-count"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val sc = spark.sparkContext
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 1, numBatches = 4)
    val input = CorpusGen.inputDs(spark, 200, parallelism = 4).toDF()
    // fence jobs: their ids are known at submit, and the listener sees
    // job starts in id order, so once it has seen the closing fence it
    // has seen every job runBatched submitted (tagged by the job group)
    val group = "graft-test-job-count"
    def fence(): Int = sc.parallelize(Seq(0), 1).collectAsync().jobIds.head
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job-count pin")
    try {
      val from = fence()
      Pipeline.runBatched(spark, input, s"$base/out", s"$base/metrics", cfg)
      val to = fence()
      val deadline = System.currentTimeMillis() + 30000
      while (!started.contains(to) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(started.contains(to), "listener never saw the closing fence job")
      val jobs = scala.jdk.CollectionConverters.CollectionHasAsScala(started).asScala
        .count(id => id > from && id < to)
      assert(jobs >= 4 && jobs <= 1 + 4, s"$jobs jobs for 4 batches")
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}

/** Native Catalyst expressions (SURVEY §7.3 custom tally). */
class FunctionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("parse_html_spans native expression end-to-end in SQL") {
    import spark.implicits._
    val df = Seq("<h1>T</h1><p>body <img src='m://1'> tail</p>").toDF("html")
    df.createOrReplaceTempView("t_html")
    val rows = spark.sql(
      """SELECT s.kind, s.text, s.media_ref, s.offset
        |FROM t_html LATERAL VIEW explode(parse_html_spans(html)) AS s""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(rows.toSeq == Seq(
      ("heading", "T", "", 4),
      ("text", "body ", "", 13),
      ("media", "", "m://1", 18),
      ("text", " tail", "", 35)))
  }

  test("expression stays inside whole-stage codegen (no UDF node)") {
    // range-backed source so ConvertToLocalRelation can't fold the plan
    val df = spark.range(3)
      .select(concat(lit("<p>x"), col("id"), lit("</p>")).as("html"))
      .select(GraftFunctions.parse_html_text(col("html")).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact form
    assert(plan.contains("*(1) Project") && plan.contains("parse_html_text"),
      s"plan not codegen'd:\n$plan")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("x0", "x1", "x2"))
  }

  test("extract_interleaved_spans: a 50k-deep div nest still yields its row") {
    import spark.implicits._
    val depth = 50000
    val html = "<div>" * depth + "deep" + "</div>" * depth
    val r = Seq(DocRow("deep", Seq(SpanRow("html", html, "", 0)))).toDF()
      .select(GraftFunctions.extract_interleaved_spans(col("spans")).as("s"))
      .as[Seq[SpanRow]].collect()
    assert(r.length == 1)
    assert(r.head.map(_.text) == Seq("deep"))
  }

  test("extract_interleaved_spans refuses a wrong input shape at analysis") {
    import spark.implicits._
    val shapes = Seq(
      "'<p>x</p>'",
      "array(named_struct('kind', 'text', 'text', 'hello'))",
      "array(named_struct('text', 'hello', 'kind', 'text', 'media_ref', '', 'offset', 0))")
    shapes.foreach { spans =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT extract_interleaved_spans($spans) AS s"))
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), e.getMessage)
      // the row pipeline runs the same check before it reads a row
      intercept[org.apache.spark.sql.AnalysisException](
        Pipeline.extract(spark, spark.sql(s"SELECT 'd' AS doc_id, $spans AS spans")))
    }
    // the checked shape itself, fields in order, passes
    val ok = spark.sql("SELECT extract_interleaved_spans(array(named_struct(" +
      "'kind', 'text', 'text', 'hello', 'media_ref', '', 'offset', 0))) AS s")
      .as[Seq[SpanRow]].collect()
    assert(ok.toSeq == Seq(Seq(SpanRow("text", "hello", "", 0))))
  }

  test("serialize_html, html_quirks_mode, prescan_charset") {
    import spark.implicits._
    val r = Seq(("<p>a & b</p>", "<!DOCTYPE html><p>x"))
      .toDF("h1", "h2")
      .select(
        GraftFunctions.serialize_html(col("h1")).as("s"),
        GraftFunctions.html_quirks_mode(col("h2")).as("q"),
        GraftFunctions.prescan_charset(
          lit("<meta charset='koi8-r'><p>").cast("binary")).as("c"))
      .collect().head
    assert(r.getString(0) == "<html><head></head><body><p>a &amp; b</p></body></html>")
    assert(r.getString(1) == "no-quirks")
    assert(r.getString(2) == "KOI8-R")
  }

  test("graft_attr_match_counts: css selector modes, one parse for N specs") {
    import spark.implicits._
    val df = Seq("""<div class="a b"><a href="http://x.png">l</a></div>""").toDF("html")
    df.createOrReplaceTempView("t_attr")
    val r = spark.sql(
      """SELECT graft_attr_match_counts(html,
        |         array('class', 'href', 'href'),
        |         array('b', '.png', 'zzz'),
        |         array('ws', 'end', 'contains')) AS counts
        |FROM t_attr""".stripMargin).collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 1L, 0L))
    // null html -> null result (nullIntolerant surface)
    val nr = spark.sql(
      "SELECT graft_attr_match_counts(CAST(NULL AS STRING), array('k'), array('v'), array('eq'))")
      .collect().head
    assert(nr.isNullAt(0))
  }
}

/** Giant-doc OOM guard: oversized docs fail into lineage, never parse. */
class GiantDocSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("docs over maxDocBytes are failed into lineage, not parsed") {
    import spark.implicits._
    val cfg = Pipeline.Config(partitions = 2, giantBuckets = 1,
      maxDocBytes = 10000) // generator giants (~20 KB) exceed this
    val input = CorpusGen.inputDs(spark, 300, giantEvery = 50, parallelism = 2).toDF()
    val (out, acc) = Pipeline.extract(spark, input, cfg)
    val rows = out.collect()
    val m = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
    val failed = m.map(_.docs_failed).sum
    assert(failed > 0, "expected giants to be failed by the size cap")
    assert(m.map(_.docs_ok).sum + failed == 300)
    // failed docs still present in output with empty spans (lineage row)
    val giants = input.as[DocRow].collect()
      .filter(d => SparkTestSession.utf8Bytes(d) > 10000).map(_.doc_id).toSet
    assert(giants.nonEmpty)
    rows.filter(r => giants.contains(r.doc_id)).foreach { r =>
      assert(r.spans.isEmpty)
    }
  }

  test("maxDocBytes counts UTF-8 bytes, not chars") {
    import spark.implicits._
    val base = "/tmp/graft-test/utf8-cap"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // 3,000 chars each: the 2-byte doc is 6,000 UTF-8 bytes, over a
    // 4,000-byte cap that the ASCII doc stays under
    val docs = Seq(
      DocRow("ascii", Seq(SpanRow("text", "a" * 3000, "", 0))),
      DocRow("multibyte", Seq(SpanRow("text", "\u00e9" * 3000, "", 0))))
    Pipeline.runBatched(spark, docs.toDF(), s"$base/out", s"$base/metrics",
      Pipeline.Config(partitions = 2, giantBuckets = 1, maxDocBytes = 4000, numBatches = 1))
    val out = Pipeline.readOutput(spark, s"$base/out").as[DocRow].collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(out("ascii").map(_.text) == Seq("a" * 3000))
    assert(out("multibyte").isEmpty)
    val m = spark.read.parquet(s"$base/metrics").as[MetricsRow].collect()
    assert(m.map(_.docs_failed).sum == 1 && m.map(_.docs_ok).sum == 1)
    assert(m.map(_.bytes_in).sum == 3000 + 6000)
  }
}

/** The row pipeline's plumbing (Catalyst rows in, kernel call, doc_id
  * copy, DocRow-schema frame out) must agree exactly with the kernel run
  * as the SQL expression. */
class ColumnarKernelSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("extractColumnar == row-pipeline extract, span for span") {
    import spark.implicits._
    val cfg = Pipeline.Config(partitions = 4, giantBuckets = 1)
    val input = CorpusGen.inputDs(spark, 250, parallelism = 4).toDF()
    val (piped, _) = Pipeline.extract(spark, input, cfg)
    val columnar = Pipeline.extractColumnar(input, cfg).as[DocRow]
    val a = piped.collect().map(d => d.doc_id -> d.spans).toMap
    val b = columnar.collect().map(d => d.doc_id -> d.spans).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, spans) => assert(b(id) == spans, id) }
  }
}

/** FIXTURES.md §6 t2 profile: full span-equality sweep at 5000 docs
  * (the constructive oracle at scale, both kernel paths). */
class T2CorrectnessSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("interleaved text+media E2E: extracted refs join real blobs, headers decode to planted dims") {
    // the full axes-A+B story: extraction emits media spans; every ref
    // resolves in the constructive media table to REAL PNG/JPEG/GIF
    // bytes; the native header decoder must recover exactly the
    // dimensions the generator planted — construction vs byte-parse,
    // two independent paths per ref
    import spark.implicits._
    val n = 400
    val input = CorpusGen.inputDs(spark, n, parallelism = 4)
    val media = CorpusGen.mediaTable(input)
    val nRefs = media.count()
    assert(nRefs > 50, s"corpus must plant a rich media set, got $nRefs")
    val (out, _) = Pipeline.extract(spark, input.toDF(),
      Pipeline.Config(partitions = 4, giantBuckets = 2))
    val refs = out.toDF()
      .select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "media")
      .select(col("s.media_ref").as("media_id")).distinct()
    val hdr = GraftFunctions.graft_image_header(col("payload"))
    val decoded = refs.join(media, "media_id")
      .select(col("media_id"), hdr.getField("format").as("format"),
        hdr.getField("width").as("width"), hdr.getField("height").as("height"))
      .collect()
    assert(decoded.length == nRefs, "every extracted ref must resolve a blob")
    decoded.foreach { r =>
      val (fmt, w, h, _) = CorpusGen.mediaHeaderExpected(r.getString(0))
      assert(r.getString(1) == fmt && r.getInt(2) == w && r.getInt(3) == h,
        s"decode mismatch for ${r.getString(0)}: got (${r.getString(1)}, " +
          s"${r.getInt(2)}, ${r.getInt(3)}), planted ($fmt, $w, $h)")
    }
  }

  test("t2: 5000 docs, columnar kernel vs constructive expected") {
    import spark.implicits._
    val n = 5000
    val input = CorpusGen.inputDs(spark, n, parallelism = 8).toDF()
    val expected = CorpusGen.expectedDf(spark, n, parallelism = 8).as[DocRow]
    val out = Pipeline.extractColumnar(input,
      Pipeline.Config(partitions = 8, giantBuckets = 2)).as[DocRow]
    val joined = out.withColumnRenamed("spans", "got").join(expected.toDF(), "doc_id")
    val bad = joined.filter(!col("doc_id").startsWith("garbage-") &&
      !(col("got") === col("spans")))
    val badCount = bad.count()
    assert(badCount == 0, s"$badCount docs mismatched; sample: " +
      bad.select("doc_id").take(5).mkString(","))
    assert(out.count() == n)
  }
}
