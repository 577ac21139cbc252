package perfbench

import org.apache.spark.sql.SparkSession
import graft.spark.{GraftFunctions, HtmlUdfs}
import org.apache.spark.sql.functions.{call_function, col}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Benchmark harness: runs one workload (or `all`, in sequence) in one
  * local[4] Spark session and writes a JSON result record.
  *
  *   perfbench.Main --workload <name|all> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> --out <file>
  *
  * Untraced (--trace 0): the inputs are set up three times (median is
  * `setup_s`), the workload's warm-up passes run, then passes repeat until
  * `--seconds` have been measured; `wall_s` is the median pass. Traced (--trace 1):
  * after the warm-up, an untraced pass and a traced pass (census listener,
  * scan-bytes listener, wrapped batch sink, spans) give the path metrics and
  * the tracing overhead, then the single-thread layer pass and the paired
  * 1-task vs 4-task kernel pass run. Outputs of the last pass are checked. */
object Main {
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")))
  }

  def make(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "extract_batched" => new ExtractBatched(spark, seed, work)
    case "sql_extract_heavy" => new SqlExtractHeavy(spark, seed, work)
    case "corpus_ops" => new CorpusOps(spark, seed, work)
    case other => sys.error(s"unknown workload $other")
  }

  val names = Seq("extract_batched", "sql_extract_heavy", "corpus_ops")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.registerAll(spark)
    val todo = if (o.workload == "all") names else Seq(o.workload)
    val records = todo.map { w =>
      val dir = o.work.resolve(w)
      Files.createDirectories(dir)
      w -> runOne(make(w, spark, o.seed, dir), spark, o, dir)
    }
    Files.write(o.out, Json.render(records.toMap).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def runOne(w: Workload, spark: SparkSession, o: Opts, dir: Path): Map[String, Any] = {
    val off = new Tracer(false)
    def log(msg: String): Unit = System.err.println(s"[perfbench] ${w.name}: $msg")
    val setups = (0 until SetupReps).map(r => Stats.seconds(w.setup(r))._2)
    log(s"setup ${setups.mkString(" ")} s")
    val warm = if (o.trace) math.max(1, w.warmPasses) else w.warmPasses
    (1 to warm).foreach(k => log(s"warm-up pass ${w.pass(-k, off)} s"))
    val weather = new Weather
    weather.start()
    val metrics: Map[String, Double] =
      if (!o.trace) {
        val t0 = System.nanoTime()
        val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
        var i = 0
        val minPasses = if (w.warmPasses > 0) 2 else 1
        while (walls.length < minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
          walls += w.pass(i, off)
          i += 1
        }
        log(s"passes ${walls.mkString(" ")} s")
        val wall = Stats.median(walls.toSeq)
        Map("setup_s" -> Stats.median(setups), "wall_s" -> wall,
          "docs_per_s" -> w.units / wall, "passes" -> walls.length.toDouble)
      } else traced(w, spark, dir)
    val wx = weather.stop()
    log(s"measured ${wx("window_s")} s")
    val ((attempted, failed, problems), checkS) = Stats.seconds(w.check())
    log(s"check $checkS s")
    problems.foreach(log)
    Map("attempted" -> attempted, "failed" -> failed, "problems" -> problems,
      "metrics" -> metrics, "weather" -> wx, "setup_samples" -> setups,
      "units" -> w.units, "artifacts" -> w.artifacts)
  }

  private def traced(w: Workload, spark: SparkSession, dir: Path): Map[String, Double] = {
    val tracer = new Tracer(true)
    val census = new Census
    val scans = new ScanBytes
    val untraced = w.pass(0, new Tracer(false))
    spark.sparkContext.addSparkListener(census)
    spark.listenerManager.register(scans)
    w match { case c: CorpusOps => c.withCensus(census); case _ => }
    census.settle()
    census.reset()
    val scanned0 = scans.total
    val evals0 = HtmlUdfs.interleavedEvals.get()
    val tracedWall = tracer.span(s"${w.name}.pass")(w.pass(1, tracer))
    census.settle()
    Thread.sleep(200) // query-execution callbacks trail the job events
    val evals = HtmlUdfs.interleavedEvals.get() - evals0
    val c = census.snap()
    val scanned = scans.total - scanned0
    val path = w.pathMetrics
    spark.sparkContext.removeSparkListener(census)
    spark.listenerManager.unregister(scans)
    w match { case c: CorpusOps => c.withCensus(null); case _ => }
    val layers = tracer.span("layers")(Layers.run(w.layerDocs, tracer))
    val scale = tracer.span("scale")(scaleEff(w, spark))
    tracer.write(dir.resolve("trace.jsonl"))
    val pipeline = Map(
      "spark.kernel_evals_per_doc" -> evals / w.units,
      "spark.scale_eff_1to4" -> scale,
      "pipeline.scan_bytes_ratio" -> scanned.toDouble / math.max(1L, w.inputBytes),
      "pipeline.shuffle_bytes" -> c.shuffleBytes.toDouble,
      "pipeline.shuffle_fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "pipeline.output_bytes" -> c.outputBytes.toDouble,
      "pipeline.gc_frac" -> c.gcMs.toDouble / math.max(1L, c.runMs),
      "pipeline.task_skew" -> c.taskSkew,
      "pipeline.task_failures" -> c.failedTasks.toDouble,
      "pipeline.jobs" -> c.jobs.toDouble,
      "pipeline.stages" -> c.stages.toDouble,
      "pipeline.tasks" -> c.tasks.toDouble,
      "jvm.peak_rss_mb" -> Proc.peakRssMb(),
      "trace.overhead_frac" -> (tracedWall / untraced - 1.0))
    val notOnPath = Metrics.perLayer.map(_ -> 0.0).toMap
    notOnPath ++ pipeline ++ layers ++ path
  }

  /** Paired kernel pass over the same cached rows: one task (one core)
    * against four tasks (four cores); efficiency = t1 / (4 * t4). */
  private def scaleEff(w: Workload, spark: SparkSession): Double = {
    val cached = w.scaleInput.repartition(4).cache()
    cached.count()
    def run(parts: Int): Double = {
      val df = if (parts == 1) cached.coalesce(1) else cached
      Stats.seconds(df.select(col("doc_id"), call_function("extract_interleaved_spans", col("spans")))
        .write.format("noop").mode("overwrite").save())._2
    }
    run(4); run(1)
    val effs = (0 until 2).map { _ => val t4 = run(4); val t1 = run(1); t1 / (4 * t4) }
    cached.unpersist()
    Stats.median(effs)
  }
}

/** Names of the per-layer metrics every traced run reports; a metric whose
  * layer is not on a workload's path reads 0 there. */
object Metrics {
  val perLayer: Seq[String] = Seq(
    "html.tokenize_us", "html.tree_us", "html.walk_us", "html.tokens_per_doc",
    "html.nodes_per_doc", "html.spans_per_doc", "html.sniff_decode_us",
    "spark.kernel_us", "spark.row_encode_us", "spark.kernel_evals_per_doc",
    "spark.scale_eff_1to4",
    "pipeline.scan_bytes_ratio", "pipeline.shuffle_bytes", "pipeline.shuffle_fetch_wait_s",
    "pipeline.output_bytes", "pipeline.gc_frac", "pipeline.task_skew",
    "pipeline.task_failures", "pipeline.jobs", "pipeline.stages", "pipeline.tasks",
    "pipeline.batch_s_p50", "pipeline.batch_s_max", "pipeline.metrics_append_s",
    "pipeline.lineage_rows", "pipeline.lineage_docs_in") ++
    CorpusOps.mix.flatMap(q => Seq(s"ops.$q.s", s"ops.$q.jobs", s"ops.$q.shuffle_bytes")) ++
    Seq("jvm.peak_rss_mb", "trace.overhead_frac", "trace.reconcile_err")
}
