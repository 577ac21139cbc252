package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator
import java.nio.file.{Files, Paths}

/** Extraction pipeline over the interleaved-document table.
  *
  * Spark realization of SURVEY §3.1: the whole reference chain
  * (tokenize → materialize → tree-build → extract; myhtml.c:225-238)
  * runs fused in one `HtmlUdfs.extractInterleaved` call per row, over the
  * shuffle's Catalyst rows — the reference's SINGLE mode semantics
  * (myhtml.c:130-134), with Spark tasks replacing its worker threads.
  *
  * Scale design (north_rule):
  *  - explicit salted repartitioning: giant docs get dedicated buckets so
  *    a 100 MB document never straggles a partition of small docs;
  *  - per-doc size cap (UTF-8 bytes): oversized docs fail into lineage;
  *  - per-partition lineage rows (docs in/ok/failed, spans, bytes);
  *  - batch loop with atomic per-batch commits (_SUCCESS marker — the
  *    parquet stand-in for Iceberg snapshot commits; on Iceberg swap the
  *    writer, the resume logic reads committed batch ids the same way);
  *  - resume: completed batches are skipped on restart.
  */
object Pipeline {

  final case class Config(
      partitions: Int = 32,
      giantBuckets: Int = 4,
      giantThresholdBytes: Long = 1L << 20,   // 1 MiB of UTF-8 text = "giant"
      maxDocBytes: Long = 256L << 20,         // hard cap in UTF-8 bytes: fail, don't parse
      numBatches: Int = 8)

  /** For each target partition 0..n-1, the smallest non-negative int v
    * whose Spark HashPartitioning id (pmod(murmur3(v, seed=42), n)) is
    * exactly that partition. Lets us get an EXACT bucket→partition
    * mapping through the regular Tungsten DataFrame shuffle — no RDD
    * hop, no Java serialization, columnar exchange. */
  private[graft] def murmurInverse(n: Int): Array[Int] = {
    val out = Array.fill(n)(-1)
    var found = 0
    var v = 0
    while (found < n) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
      val p = ((h % n) + n) % n
      if (out(p) < 0) { out(p) = v; found += 1 }
      v += 1
    }
    out
  }

  /** Length-aware salt (SURVEY §4 custom-work table): the bucket of each
    * doc. Regular docs hash over `partitions` buckets; giant docs go to
    * `giantBuckets` DEDICATED buckets numbered after them, so a partition
    * never mixes giant and bulk docs and at most ~(giants/giantBuckets)
    * giants share a task. */
  private def saltBucket(cfg: Config): Column = {
    val hash = xxhash64(col("doc_id"))
    val bytes = aggregate(col("spans"), lit(0L),
      (acc, s) => acc + coalesce(octet_length(s.getField("text")).cast("long"), lit(0L)))
    when(bytes > cfg.giantThresholdBytes,
        pmod(hash, lit(cfg.giantBuckets)).cast("int") + cfg.partitions)
      .otherwise(pmod(hash, lit(cfg.partitions)).cast("int"))
  }

  /** Repartition into `n` partitions so that row `key` (an int in
    * 0 until n) lands on partition `key` exactly. The key is mapped
    * through `murmurInverse` so the plain `repartition(n, col)` Tungsten
    * shuffle places it deterministically (naive repartition would
    * re-hash the key and collide giant buckets into bulk ones). */
  private def exactRepartition(df: DataFrame, key: Column, n: Int): DataFrame =
    df.withColumn("__graft_pkey", element_at(typedlit(murmurInverse(n).toSeq), key + 1))
      .repartition(n, col("__graft_pkey"))
      .drop("__graft_pkey")

  /** Salted repartition into `partitions + giantBuckets` partitions, one
    * per `saltBucket`. Runs BEFORE the parse so the expensive kernel is
    * balanced, not the scan. */
  def saltedRepartition(df: DataFrame, cfg: Config): DataFrame =
    exactRepartition(df, saltBucket(cfg), cfg.partitions + cfg.giantBuckets)

  /** `doc_id, spans` of `df`; a `spans` of the wrong shape fails here with
    * `extract_interleaved_spans`' own AnalysisException (analysis only). */
  private def kernelInput(df: DataFrame): DataFrame = {
    df.select(GraftSql.column(ExtractInterleavedSpans(GraftSql.expressionOf(col("spans")))))
    df.select(col("doc_id"), col("spans"))
  }

  /** `df`'s Catalyst rows, taken as `Dataset.rdd` takes its rows: under a
    * SQL execution, so query listeners and the UI see the scan and shuffle
    * (a bare `toRdd` runs them unreported). */
  private def catalystRows(df: DataFrame): RDD[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("rdd"))(qe.toRdd)
  }

  /** The per-partition driver of the kernel over `doc_id, spans` rows:
    * extracts every doc of partition `pid` and pushes one MetricsRow for
    * it into `acc` once the input is drained (north_rule lineage). Never
    * throws per-doc: a doc over `maxDocBytes` is not parsed, and one whose
    * extraction fails non-fatally comes back null from the kernel; both
    * emit an empty-span row and count into docs_failed (robustness,
    * Changes:33). Fatal errors (OOM, interrupts) propagate. */
  private def extractPartition(it: Iterator[InternalRow], cfg: Config, batchId: Int,
                               pid: Int, acc: CollectionAccumulator[MetricsRow])
      : Iterator[InternalRow] = {
    val maxBytes = cfg.maxDocBytes
    new Iterator[InternalRow] {
      private val t0 = System.nanoTime()
      private var docsIn = 0L
      private var docsOk = 0L
      private var docsFailed = 0L
      private var spansOut = 0L
      private var bytesIn = 0L
      private var firstId: UTF8String = null
      private var lastId: UTF8String = null
      private var finalized = false

      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !finalized) {
          finalized = true
          acc.add(MetricsRow(batchId, pid, docsIn, docsOk, docsFailed,
            spansOut, bytesIn, (System.nanoTime() - t0) / 1000000L,
            if (firstId == null) "" else firstId.toString,
            if (lastId == null) "" else lastId.toString))
        }
        h
      }

      def next(): InternalRow = {
        val row = it.next()
        // the shuffle and projection reuse their row buffers: keep a copy
        val docId = if (row.isNullAt(0)) null else row.getUTF8String(0).clone()
        docsIn += 1
        if (firstId == null) firstId = docId
        lastId = docId
        val spans = if (row.isNullAt(1)) HtmlUdfs.emptySpans else row.getArray(1)
        val sz = (0 until spans.numElements()).iterator.map(spans.getStruct(_, 4))
          .map(s => if (s == null || s.isNullAt(1)) 0L else s.getUTF8String(1).numBytes().toLong).sum
        bytesIn += sz
        val out = if (sz > maxBytes) null else HtmlUdfs.extractInterleavedOrNull(spans)
        if (out == null) docsFailed += 1 else { docsOk += 1; spansOut += out.numElements() }
        InternalRow(docId, if (out == null) HtmlUdfs.emptySpans else out)
      }
    }
  }

  private lazy val docEncoder = Encoders.product[DocRow]

  /** `extractPartition` over each partition of `doc_id, spans` rows, as a
    * Dataset of `DocRow`'s schema (the parquet schema sinks commit). */
  private def extractRows(spark: SparkSession, rows: RDD[InternalRow], cfg: Config,
                          batchId: Int, acc: CollectionAccumulator[MetricsRow]): Dataset[DocRow] =
    GraftSql.createDataFrame(spark,
      rows.mapPartitionsWithIndex((pid, it) => extractPartition(it, cfg, batchId, pid, acc)),
      docEncoder.schema).as(docEncoder)

  /** Salted repartition → kernel; metrics land in the returned accumulator,
    * one row per partition tagged `batchId`, after an action runs. Under
    * AQE the shuffle's map stage runs here, when its rows are taken. */
  private[graft] def extractBatch(spark: SparkSession, input: DataFrame, cfg: Config,
                                  batchId: Int): (Dataset[DocRow], CollectionAccumulator[MetricsRow]) = {
    val acc = new CollectionAccumulator[MetricsRow]
    spark.sparkContext.register(acc, s"graft.metrics.$batchId")
    (extractRows(spark, catalystRows(saltedRepartition(kernelInput(input), cfg)),
      cfg, batchId, acc), acc)
  }

  /** The kernel as a SQL expression over a salted repartition: no
    * lineage rows and no size cap, every input column kept. Bench's
    * `pipe_dps` times this. */
  def extractColumnar(df: DataFrame, cfg: Config): DataFrame = {
    GraftFunctions.registerAll(df.sparkSession)
    saltedRepartition(df, cfg)
      .withColumn("spans", call_function("extract_interleaved_spans", col("spans")))
  }

  /** One-shot extraction (no batching): `extractBatch` as batch 0. */
  def extract(spark: SparkSession, input: DataFrame, cfg: Config = Config())
      : (Dataset[DocRow], CollectionAccumulator[MetricsRow]) =
    extractBatch(spark, input, cfg, batchId = 0)

  /** Where committed batches live. The parquet implementation commits a
    * batch atomically via the _SUCCESS marker; an Iceberg implementation
    * maps writeBatch → a snapshot-producing append tagged with the batch
    * id in the snapshot summary, and isBatchCommitted → a summary lookup
    * — the resume loop is identical (SURVEY §4 checkpoint/resume row).
    * `appendMetrics` is called once per committed batch, on the driver
    * thread, after that batch's `writeBatch` returns, with the batch's
    * lineage rows (one per partition). */
  trait BatchSink {
    def isBatchCommitted(batchId: Int): Boolean
    def writeBatch(batchId: Int, out: Dataset[DocRow]): Unit
    def appendMetrics(spark: SparkSession, rows: Seq[MetricsRow]): Unit
  }

  final class ParquetDirSink(outDir: String, metricsDir: String) extends BatchSink {
    def isBatchCommitted(b: Int): Boolean =
      Files.exists(Paths.get(s"$outDir/batch=$b/_SUCCESS"))
    def writeBatch(b: Int, out: Dataset[DocRow]): Unit =
      out.write.mode("overwrite").parquet(s"$outDir/batch=$b")
    def appendMetrics(spark: SparkSession, rows: Seq[MetricsRow]): Unit =
      appendMetricsFile(spark, metricsDir, rows)
  }

  private lazy val metricsSchema = Encoders.product[MetricsRow].schema

  /** Appends `rows` to the parquet table at `dir` as one new file, written
    * from the driver through the session's Hadoop FileSystem — no Spark
    * job. The file is written under a hidden `.`-prefixed name, which
    * Spark's file listing skips, then renamed to a unique `part-` name, so
    * readers never see a half-written file. Parquet schema and footer
    * metadata are the ones Spark writes for `MetricsRow`, so the table
    * reads the same as one appended by `Dataset.write`. */
  private[graft] def appendMetricsFile(spark: SparkSession, dir: String,
                                       rows: Seq[MetricsRow]): Unit =
    if (rows.nonEmpty) {
      val parquetSchema =
        new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(metricsSchema)
      val conf = spark.sessionState.newHadoopConf()
      val name = s"part-${java.util.UUID.randomUUID()}.parquet"
      val tmp = new Path(dir, s".$name")
      val writer = ExampleParquetWriter.builder(tmp).withConf(conf).withType(parquetSchema)
        .withExtraMetaData(java.util.Map.of(ParquetReadSupport.SPARK_METADATA_KEY, metricsSchema.json))
        .build()
      val groups = new SimpleGroupFactory(parquetSchema)
      try rows.foreach { r =>
        val g = groups.newGroup()
        r.productIterator.zipWithIndex.foreach {
          case (v: Int, i) => g.add(i, v)
          case (v: Long, i) => g.add(i, v)
          case (v: String, i) => g.add(i, v)
          case _ => // null string: the optional field stays unset
        }
        writer.write(g)
      } finally writer.close()
      if (!tmp.getFileSystem(conf).rename(tmp, new Path(dir, name)))
        throw new java.io.IOException(s"could not rename $tmp to $name")
    }

  /** Batched, checkpoint-resumable run (north_rule). Batch membership is
    * pmod(xxhash64(doc_id), numBatches); a batch committed by an earlier
    * run is skipped. The input is scanned and shuffled ONCE: the docs of
    * pending batches go through one exchange keyed by
    * `batch * n + saltBucket` (n = partitions + giantBuckets), so shuffle
    * partitions `b*n until (b+1)*n` hold exactly batch b's salted
    * buckets. Each batch's job then reads only its own n partitions,
    * extracts them and commits through `sink`; the shuffle's map stage
    * runs once and later batch jobs skip it. Trade-off: the shuffle files
    * of the whole pending input stay on local disk until the run ends,
    * instead of one batch's worth at a time. */
  def runBatched(spark: SparkSession, input: DataFrame, outDir: String,
                 metricsDir: String, cfg: Config = Config()): Unit =
    runBatched(spark, input, new ParquetDirSink(outDir, metricsDir), cfg)

  def runBatched(spark: SparkSession, input: DataFrame, sink: BatchSink,
                 cfg: Config): Unit = {
    val pending = (0 until cfg.numBatches).filterNot(sink.isBatchCommitted)
    if (pending.isEmpty) return
    val n = cfg.partitions + cfg.giantBuckets
    val batch = pmod(xxhash64(col("doc_id")), lit(cfg.numBatches)).cast("int")
    val shuffled = catalystRows(exactRepartition(kernelInput(input).filter(batch.isin(pending: _*)),
        batch * n + saltBucket(cfg), cfg.numBatches * n))
    val acc = new CollectionAccumulator[MetricsRow]
    spark.sparkContext.register(acc, "graft.metrics")
    pending.foreach { b =>
      sink.writeBatch(b,
        extractRows(spark, PartitionPruningRDD.create(shuffled, _ / n == b), cfg, b, acc))
      // commit metrics for this batch (append — lineage survives resume)
      val rows = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala.toSeq
      sink.appendMetrics(spark, rows)
      acc.reset()
    }
  }

  /** Read back the committed output (all batches). */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/batch=*")
}
