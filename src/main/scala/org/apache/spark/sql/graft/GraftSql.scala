package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.spark._

/** Bridge inside org.apache.spark.sql so we can reach the session
  * FunctionRegistry directly (the usual pattern for native-expression
  * libraries; on a cluster prefer
  * `--conf spark.sql.extensions=graft.spark.GraftExtensions`). */
object GraftSql {
  /** Single source of truth for the native-function table — consumed
    * both here (live-session registration) and by
    * `graft.spark.GraftExtensions` (spark.sql.extensions cluster entry
    * point), so the two registration paths can never drift apart. */
  def entries: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("parse_html_spans", "graft.spark.ParseHtmlSpans", args => ParseHtmlSpans(args.head)),
    ("parse_html_text", "graft.spark.ParseHtmlText", args => ParseHtmlText(args.head)),
    ("serialize_html", "graft.spark.SerializeHtml", args => SerializeHtml(args.head)),
    ("prescan_charset", "graft.spark.PrescanCharset", args => PrescanCharset(args.head)),
    ("html_quirks_mode", "graft.spark.HtmlQuirksMode", args => HtmlQuirksMode(args.head)),
    ("tokenize_html", "graft.spark.TokenizeHtml", args => TokenizeHtml(args.head)),
    ("parse_html_nodes", "graft.spark.ParseHtmlNodes", args => ParseHtmlNodes(args.head)),
    ("graft_node_table", "graft.spark.GraftNodeTable", args => GraftNodeTable(args.head)),
    ("graft_link_table", "graft.spark.GraftLinkTable", args => GraftLinkTable(args.head)),
    ("graft_page_meta", "graft.spark.GraftPageMeta", args => GraftPageMeta(args.head)),
    ("graft_table_cells", "graft.spark.GraftTableCells", args => GraftTableCells(args.head)),
    ("graft_sitemap", "graft.spark.GraftSitemap", args => GraftSitemap(args.head)),
    ("graft_feed", "graft.spark.GraftFeed", args => GraftFeed(args.head)),
    ("graft_pub_date", "graft.spark.GraftPubDate", args => GraftPubDate(args.head)),
    ("graft_subtitles", "graft.spark.GraftSubtitles", args => GraftSubtitles(args.head)),
    ("graft_hreflang", "graft.spark.GraftHreflang", args => GraftHreflang(args.head)),
    ("graft_jsonld", "graft.spark.GraftJsonld", args => GraftJsonld(args.head)),
    ("graft_table_grid", "graft.spark.GraftTableGrid", args => GraftTableGrid(args.head)),
    ("graft_density_blocks", "graft.spark.GraftDensityBlocks", args => GraftDensityBlocks(args.head)),
    ("extract_interleaved_spans", "graft.spark.ExtractInterleavedSpans",
      args => ExtractInterleavedSpans(args.head)),
    ("graft_cosine", "graft.spark.GraftCosine",
      args => GraftCosine(args(0), args(1))),
    ("graft_quantize_i8", "graft.spark.GraftQuantizeI8",
      args => GraftQuantizeI8(args.head)),
    ("graft_cosine_i8", "graft.spark.GraftCosineI8",
      args => GraftCosineI8(args(0), args(1))),
    ("graft_hyperplane_sig", "graft.spark.HyperplaneSig",
      args => HyperplaneSig(args.head,
        args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Int])),
    ("parse_fragment_text", "graft.spark.ParseFragmentText",
      args => ParseFragmentText(args(0), args(1))),
    ("extract_main_text", "graft.spark.ExtractMainText",
      args => ExtractMainText(args.head)),
    ("extract_dense_text", "graft.spark.ExtractDenseText",
      args => ExtractDenseText(args.head)),
    // dedup signature kernels — native since round 3 (previously Scala
    // UDFs registered by TextOps.registerAll; same names, same bits)
    ("graft_simhash64", "graft.spark.GraftSimhash64",
      args => GraftSimhash64(args.head)),
    ("graft_minhash", "graft.spark.GraftMinhash",
      args => GraftMinhash(args.head, args(1).eval().asInstanceOf[Int])),
    ("graft_jaccard", "graft.spark.GraftJaccard",
      args => GraftJaccard(args(0), args(1))),
    ("graft_minhash_shingle", "graft.spark.GraftMinhashShingle",
      args => GraftMinhashShingle(args.head,
        args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Int])),
    ("graft_jaccard_shingle", "graft.spark.GraftJaccardShingle",
      args => GraftJaccardShingle(args(0), args(1),
        args(2).eval().asInstanceOf[Int])),
    ("graft_hamming64", "graft.spark.GraftHamming64",
      args => GraftHamming64(args(0), args(1))),
    ("graft_fingerprint64", "graft.spark.GraftFingerprint64",
      args => GraftFingerprint64(args.head)),
    ("graft_compress_ratio", "graft.spark.GraftCompressRatio",
      args => GraftCompressRatio(args.head)),
    ("graft_lang_id", "graft.spark.GraftLangId",
      args => GraftLangId(args.head)),
    ("graft_nfc", "graft.spark.GraftNfc",
      args => GraftNfc(args.head)),
    ("graft_demojibake", "graft.spark.GraftDemojibake",
      args => GraftDemojibake(args.head)),
    ("graft_repetition", "graft.spark.GraftRepetition",
      args => GraftRepetition(args.head)),
    ("graft_c4_rules", "graft.spark.GraftC4Rules",
      args => GraftC4Rules(args.head)),
    ("graft_lm_score", "graft.spark.GraftLmScore",
      args => GraftLmScore(args.head)),
    ("graft_repetition_ok", "graft.spark.GraftRepetitionOk",
      args => GraftRepetitionOk(args.head,
        args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Int],
        args(3).eval().asInstanceOf[Int])),
    ("graft_bpe_count", "graft.spark.GraftBpeCount",
      args => GraftBpeCount(args.head)),
    ("graft_quality_model", "graft.spark.GraftQualityModel",
      args => GraftQualityModel(args.head)),
    ("graft_bpe_tokens", "graft.spark.GraftBpeTokens",
      args => GraftBpeTokens(args.head)),
    ("graft_quality_score", "graft.spark.GraftQualityScore",
      args => GraftQualityScore(args.head)),
    ("graft_ngrams", "graft.spark.GraftNgrams",
      args => GraftNgrams(args.head, args(1).eval().asInstanceOf[Int])),
    ("graft_cdc_chunks", "graft.spark.GraftCdcChunks",
      args => GraftCdcChunks(args.head, args(1).eval().asInstanceOf[Int])),
    ("graft_warc_records", "graft.spark.GraftWarcRecords",
      args => GraftWarcRecords(args.head)),
    ("graft_warc_index", "graft.spark.GraftWarcIndex",
      args => GraftWarcIndex(args.head)),
    ("graft_warc_compose", "graft.spark.GraftWarcCompose",
      args => GraftWarcCompose(args(0), args(1), args(2))),
    ("graft_warc_compose_wet", "graft.spark.GraftWarcComposeWet",
      args => GraftWarcComposeWet(args(0), args(1), args(2), args(3))),
    ("graft_registrable_domain", "graft.spark.GraftRegistrableDomain",
      args => GraftRegistrableDomain(args.head)),
    ("graft_markdown", "graft.spark.GraftMarkdown",
      args => GraftMarkdown(args.head)),
    ("graft_robots_allows", "graft.spark.GraftRobotsAllows",
      args => GraftRobotsAllows(args(0), args(1), args(2))),
    ("graft_robots_meta", "graft.spark.GraftRobotsMeta",
      args => GraftRobotsMeta(args(0), args(1))),
    // multimodal: real image-container header decode (round 4)
    ("graft_image_header", "graft.spark.GraftImageHeader",
      args => GraftImageHeader(args.head)),
    ("graft_audio_header", "graft.spark.GraftAudioHeader",
      args => GraftAudioHeader(args.head)),
    ("graft_mp3_header", "graft.spark.GraftMp3Header",
      args => GraftMp3Header(args.head)),
    ("graft_video_header", "graft.spark.GraftVideoHeader",
      args => GraftVideoHeader(args.head)),
    ("graft_exif", "graft.spark.GraftExif",
      args => GraftExif(args.head)),
    ("graft_gps", "graft.spark.GraftGps",
      args => GraftGps(args.head)),
    ("graft_blockhash", "graft.spark.GraftBlockhash",
      args => GraftBlockhash(args.head)),
    ("graft_hamming_hex", "graft.spark.GraftHammingHex",
      args => GraftHammingHex(args.head, args(1))),
    // PDF structure + text extraction (round 4 — north rule "PDF/layout parse")
    ("graft_pdf_info", "graft.spark.GraftPdfInfo",
      args => GraftPdfInfo(args.head)),
    ("graft_pdf_text", "graft.spark.GraftPdfText",
      args => GraftPdfText(args.head)),
    ("graft_attr_match_counts", "graft.spark.GraftAttrMatchCounts",
      args => GraftAttrMatchCounts(args(0),
        strArray(args(1)), strArray(args(2)), strArray(args(3))))
  )

  /** Evaluate a foldable array<string> argument (the plan-time spec
    * lists of graft_attr_match_counts) to plain strings. */
  private def strArray(e: Expression): Seq[String] =
    e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
      .toSeq

  /** Column from a raw Catalyst expression — for expressions whose
    * constructor carries plan-time constants a SQL literal can't express
    * cleanly (GraftNearestCentroids' k×dim matrix). */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Expression behind a Column (the inverse, for wrapping). */
  def expressionOf(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** DataFrame over Catalyst rows of `schema`, taken as they are (no codec). */
  def createDataFrame(spark: SparkSession,
                      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { case (name, clazz, builder) =>
      registry.registerFunction(
        FunctionIdentifier(name), new ExpressionInfo(clazz, name), builder)
    }
  }
}
