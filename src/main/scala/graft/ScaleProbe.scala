package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** One-off scale probe (round 7, VERDICT r6 #7): run a query suite at
  * two scale factors in the SAME session and report the wall-clock
  * ratio per query. All correctness gates run at sf0.001/0.01 and bench
  * at sf0.1 — a super-linear plan (an unguarded bucket join, a
  * collapsed broadcast, a corpus window) is invisible there. Usage:
  *   runMain graft.ScaleProbe <dirSmall> <dirBig> [rowFactor]
  * Per-query runs are interleaved small/big and min-of-2 so the ratio
  * is same-weather (this box's steal varies on a ~minute scale).
  * Queries whose cost is dominated by a PLANTED fixed-size corpus
  * (md5Corpus doc_id<100 etc.) are expected near 1.0; full-corpus
  * queries should track the row factor; anything well above it is a
  * plan bug to adjudicate (BASELINE.md records the table).
  */
object ScaleProbe {

  val suite: Seq[String] = Seq(
    // full-corpus dedup/pack/text — should track the row factor
    "q_dedup_exact", "q_dedup_flags", "q_dedup_clusters", "q_dedup_keep_best",
    "q_line_dedup", "q_decontam", "q_pack", "q_pack_examples",
    "q_quality_model", "q_token_count", "q_repetition", "q_html_node_table",
    "q_mixture", "q_pack_interleaved", "q_html_markdown",
    "q_c4_gopher", "q_lm_score", "q_lm_buckets",
    "q_link_graph", "q_dedup_incremental",
    "q_html_density", "q_substr_remove", "q_ccnet_pipeline", "q_warc_wet",
    "q_training_shard", "q_crawl_policy",
    "q_sessions", "q_stream_sessions", "q_events_funnel", "q_domain_report",
    "q_para_dedup", "q_domain_cap", "q_chunks", "q_stream_warc_segments",
    "q_snapshot_diff", "q_inverted_index", "q_domain_boilerplate",
    "q_redirects", "q_anchor_text", "q_sitemap", "q_crawl_frontier",
    "q_image_webp", "q_feed", "q_caption_pairs", "q_jsonl", "q_robots_meta",
    "q_pub_date", "q_editdist_verify", "q_audio_mp3", "q_subtitles",
    "q_recrawl_priority", "q_shard_manifest", "q_sections", "q_table_csv",
    "q_page_history", "q_canonical_dedup", "q_stream_cdc", "q_hreflang", "q_discovery_chain",
    "q_image_exif", "q_image_blockhash", "q_og_caption", "q_wet_sections",
    "q_parallel_pairs", "q_asr_pairs", "q_bm25", "q_split", "q_host_rank",
    "q_fetch_schedule", "q_stream_semdedup", "q_sitemap_index",
    "q_bm25_multi", "q_domain_quality", "q_segment_manifest",
    "q_html_outline", "q_cdc_chunks", "q_dom_stats", "q_wat_manifest",
    "q_lang_mix", "q_stream_fetch_schedule", "q_stream_semdedup_ttl",
    "q_noindex", "q_jsonld", "q_shuffle_shards", "q_nfc", "q_recrawl_rank",
    "q_image_dedup", "q_diversity", "q_oov_rate", "q_demojibake",
    "q_quality_calib", "q_embed_decontam",
    "q_span_audit", "q_index_delta", "q_warc_dedup", "q_table_types",
    "q_url_bitext", "q_badwords", "q_readability", "q_datasheet", "q_dom_diff", "q_hits", "q_image_pii", "q_table_grid", "q_gps", "q_density_blocks", "q_dedup_nfc",
    // planted-corpus dedup (fixed 100-doc md5 corpus) — expected ~flat
    "q_minhash_dedup", "q_cjk_dedup", "q_simhash_dedup", "q_ngram_jaccard",
    "q_substr_dedup", "q_fuzzy_dedup", "q_fuzzy_dedup_v2", "q_semdedup",
    "q_dedup_eval",
    // ANN over embeddings
    "q_ann_self", "q_ann_topk", "q_ann_i8", "q_ann_lsh", "q_ann_ivf",
    "q_ann_pq", "q_ann_pqr", "q_embed_neardup", "q_embed_norm", "q_ann_hnsw",
    "q_ann_ivf_hnsw", "q_ann_hnsw_i8",
    // round-8 completion (VERDICT r7 #1): the remaining never-probed
    // queries — per-row HTML/WARC/PDF/URL kernel families (expected
    // near-linear), small planted/graded corpora (expected flat), and
    // the bounded streaming drains (fixed constructions at every SF —
    // expected flat; kept in-suite so the census is the full 186)
    "q_ann_graded", "q_ann_opq", "q_audio_headers", "q_budget_select",
    "q_charset_sniff", "q_clean_pipeline", "q_clean_pipeline_v2",
    "q_corpus_report", "q_embed_graded", "q_fingerprint", "q_html_attrs",
    "q_html_boiler", "q_html_entities", "q_html_extract", "q_html_foster",
    "q_html_fragment", "q_html_links", "q_html_media", "q_html_meta",
    "q_html_misnest", "q_html_nodes", "q_html_pre", "q_html_quirks",
    "q_html_rcdata", "q_html_script_skip", "q_html_serialize",
    "q_html_tables", "q_html_tokens", "q_lang_id", "q_len_hist",
    "q_multimodal_real", "q_multimodal_stub", "q_pdf_cmap", "q_pdf_extract",
    "q_pii", "q_pipeline_e2e", "q_quality", "q_robots", "q_sample",
    "q_sentences", "q_sketch_cms", "q_sketch_hll", "q_stream_dedup",
    "q_stream_dedup_ttl", "q_stream_warc", "q_stream_window", "q_terms",
    "q_text_stats", "q_token_ids", "q_url_filter", "q_url_normalize",
    "q_url_psl", "q_video_headers", "q_warc", "q_warc_charset",
    "q_warc_compose", "q_warc_extract", "q_warc_index")

  def main(args: Array[String]): Unit = {
    val dirA = args(0)
    val dirB = args(1)
    val rowFactor = if (args.length > 2) args(2).toDouble else 10.0
    // optional 4th arg: comma-separated subset (probe only new queries)
    val chosen =
      if (args.length > 3) suite.filter(args(3).split(',').toSet)
      else suite
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-scale-probe")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.spark.GraftFunctions.registerAll(spark)

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[probe] $name@$dir: ${e.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }

    // JVM/codegen warm-up on the small dir, untimed
    chosen.take(3).foreach(time(_, dirA))

    val rows = chosen.map { name =>
      var a = Double.MaxValue
      var b = Double.MaxValue
      var r = 0
      while (r < 2) { // interleaved min-of-2: same-weather ratios
        a = math.min(a, time(name, dirA))
        b = math.min(b, time(name, dirB))
        r += 1
      }
      val ratio = b / a
      println(f"""{"q":"$name","small_s":$a%.3f,"big_s":$b%.3f,"ratio":$ratio%.2f}""")
      (name, a, b, ratio)
    }
    val worst = rows.maxBy(_._4)
    println(f"""{"summary":"scale-probe","row_factor":$rowFactor%.1f,"queries":${rows.size},"worst":"${worst._1}","worst_ratio":${worst._4}%.2f}""")
    spark.stop()
  }
}
