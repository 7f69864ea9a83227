package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.Harness

/** Benchmark main: runs the battery on SPARK_GRAFT_SF_DIR and writes one
  * JSON object (stdout and SPARK_GRAFT_BENCH_OUT, default
  * BENCH_LOCAL.json; sbt prefixes stdout with [info], so the file is the
  * canonical copy).
  *
  * Protocol, per query, in one shared session:
  *  - one warm-up run: whole-stage codegen compiles a class per novel
  *    plan and C2 needs a pass; at this data size that would dominate a
  *    cold measurement;
  *  - one discarded run: shuffle-file and page-cache warm-up that the
  *    warm-up does not share (it left the first measured run of the
  *    composed pipelines up to 2.7x their median);
  *  - SPARK_GRAFT_ITERS measured runs (default 5), reporting the median
  *    with min/max as `spread`: a median of 5 tolerates two runs that
  *    absorbed external load;
  *  - pinned RDDs released after every run ([[Harness.timeNoop]]), and a
  *    full GC between queries, because the ContextCleaner reclaims
  *    broadcast/shuffle state only when driver GC runs; without it later
  *    queries inherit earlier ones' state.
  *
  * The shared session is right for a battery total but cannot attribute
  * a per-query delta across commits (co-resident queries shift GC and
  * codegen-cache state); use `scripts/ab_bench.sh` for that.
  *
  * A query that throws is named in `failed`, `n_failed` counts them,
  * `value` (the total) is null rather than a sum over the survivors, and
  * the process exits 1 after writing the artifact.
  */
object Bench {

  /** Registry queries in the battery, resolved through
    * [[SparkEntry.queries]] in this order. */
  val registryRows: Seq[String] = Seq(
    "q01_groupby_agg", "q04_derive", "q12_join_star", "q20_window", "q21_zscore",
    "q24_stats_moments", "q44_ngram_jaccard", "q45_minhash_lsh", "q46_simhash",
    "q47_ann_topk", "q48_embedding_neardup", "q50_events_hourly", "q51_sessions",
    "q59_repetition", "q61_asof_join", "q62_range_join", "q72_embed_normalize",
    "q73_tpch_q3", "q74_tpch_q5", "q108_tpch_q18", "q109_tpch_q21", "q114_tpch_q10",
    "q115_tpch_q7", "q116_tpch_q14", "q117_tpch_q19", "q94_pipeline_e2e",
    "q95_tfidf", "q96_embed_covariance", "q97_semantic_dedup", "q98_dup_spans",
    "q99_bigram_lm", "q101_pack_sequences", "q103_heavy_hitters",
    "q104_quantile_filter", "q105_bpe_pair_counts", "q106_bpe_encode",
    "q110_minhash_incremental", "q112_negative_samples", "q113_pipeline_v2",
    "q118_pq_encode", "q120_pq_rerank", "q119_bpe_encode1", "q121_tpch_q4",
    "q122_tpch_q6", "q123_tpch_q13", "q124_tpch_q17", "q125_tpch_q22",
    "q126_ivfpq_topk", "q127_tpch_q15", "q128_simhash_incremental",
    "q129_domain_cap", "q130_tpch_q2", "q131_tpch_q8", "q132_tpch_q9",
    "q133_tpch_q11", "q134_tpch_q12", "q135_tpch_q16", "q136_tpch_q20",
    "q137_tpch_q1", "q138_decontam_bloom", "q139_bloom_join", "q140_edit_distance",
    "q141_topk_per_group", "q142_weighted_sample", "q143_html_strip",
    "q146_json_extract", "q147_grouping_sets", "q148_remove_dup_spans",
    "q150_remove_contam_spans", "q151_snapshot_diff", "q152_json_fast",
    "q153_normalize_text", "q154_cdc_apply", "q156_count_min", "q157_zorder",
    "q158_group_holdout", "q159_ivfpq_residual", "q160_pipeline_v3",
    "q161_dsir_weights", "q162_bm25", "q163_hybrid_rrf", "q164_token_budget",
    "q165_shard_manifest", "q166_semantic_decontam", "q167_token_kl",
    "q168_weighted_pct", "q169_robust_outliers", "q170_pagerank", "q171_phash",
    "q172_span_corruption", "q173_sentence_dups", "q174_script_profile",
    "q175_readability", "q176_sentence_chunks", "q177_mmr_rerank",
    "q178_interval_overlap", "q179_winsorize", "q180_semantic_incremental",
    "q181_ctfidf_terms", "q182_source_overlap", "q183_langid_trained",
    "q184_unigram_seed", "q185_unigram_encode", "q186_pipeline_v4", "q187_hilbert",
    "q188_hard_negatives", "q189_langid_margin", "q190_weighted_sample_group",
    "q191_temperature_mixture", "q192_temperature_epochs", "q193_canonical_dedup",
    "q194_kn_bigram_lm", "q195_pmi_collocations", "q196_ccnet_ppl_buckets",
    "q197_wordpiece_encode", "q198_wordpiece_encode1", "q199_hilbert_3d",
    "q200_unimax_mixture", "q201_unimax_epochs", "q202_ngram_containment",
    "q203_dedup_contained", "q204_dup_cluster_sizes", "q205_lsh_tune",
    "q206_corpus_report", "q207_bytebpe_encode1", "q208_bytebpe_roundtrip",
    "q209_kn_lm_heldout", "q210_threshold_apply", "q211_pipeline_v5",
    "q212_quality_logreg", "q213_tokenizer_fertility", "q214_bytebpe_distfit",
    "q215_wordpiece_batchfit", "q217_dedup_incr_bloom", "q219_repeated_words_src",
    "q221_compress_report", "q223_pipeline_v6", "q225_pipeline_v7",
    "q227_v7_pack_compaction", "q231_v8_ingest_state")

  /** BASELINE.md macro-benchmarks ported to the fixture tables, then the
    * registry rows. An unknown registry name fails here, at startup. */
  def headline: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val registry = SparkEntry.queries
    Seq[(String, (SparkSession, String) => DataFrame)](
      // reference benchmark/Main.hs:41-79 groupBy+min/max, on lineitem
      "bench_groupby_minmax" -> ((s, d) =>
        Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus")
          .agg(min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
            min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"))),
      // reference examples/OneBillionRowChallenge.hs:21-43 min/mean/max, on events
      "bench_1brc" -> ((s, d) =>
        Tables.events(s, d).groupBy("event_type")
          .agg(min("value").as("min_v"), avg("value").as("mean_v"), max("value").as("max_v")))
    ) ++ registryRows.map(n =>
      n -> registry.getOrElse(n, sys.error(s"Bench row $n is not a registry query")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus(32)
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "5").toInt
    val battery = headline
    // SPARK_GRAFT_BENCH_ONLY=q186_...,q211_... restricts the run (the
    // sf1 lane and the TPC-H soak). Unknown names fail fast: a typo
    // would otherwise run nothing and overwrite the artifact.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(battery.map(_._1).toSet)
      require(unknown.isEmpty,
        "SPARK_GRAFT_BENCH_ONLY names not in the battery: " + unknown.toSeq.sorted.mkString(", "))
      require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but empty")
    }
    val selected = battery.filter { case (n, _) => only.forall(_(n)) }
    val spark = Harness.session(cpus)

    /** warm-up + discard + `iters` measured runs → (median, min, max),
      * or None when any run throws. */
    def run(name: String, fn: (SparkSession, String) => DataFrame): Option[(Double, Double, Double)] =
      try {
        def once() = Harness.timeNoop(spark)(fn(spark, sfDir))
        once(); once() // warm-up, discard
        val s = Seq.fill(iters)(once()).sorted
        Some((s(s.length / 2), s.head, s.last))
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }

    val hostStart = Harness.host()
    val wallStart = System.nanoTime()
    val results = selected.map { case (name, fn) =>
      val r = run(name, fn)
      System.gc() // between queries, never inside a measured run
      name -> r
    }
    val hostEnd = Harness.host()
    val ok = results.collect { case (k, Some(r)) => k -> r }
    val failed = results.collect { case (k, None) => k }
    def obj(kv: Seq[String]): String = kv.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, r) => Harness.json(k) + ":" + r.fold(-1.0)(_._1) })
    val spread = obj(ok.map { case (k, (_, lo, hi)) => s"${Harness.json(k)}:[$lo,$hi]" })
    // Adjudication aid, not a gate: a >3x min-to-max spread that moves
    // >0.3 s means an iteration absorbed external load. The 0.3 s floor
    // keeps sub-second queries from tripping the ratio on jitter.
    val outliers = obj(ok.collect {
      case (k, (_, lo, hi)) if hi > 3 * lo && hi - lo > 0.3 => s"${Harness.json(k)}:[$lo,$hi]"
    })
    val total = if (failed.isEmpty) ok.map(_._2._1).sum.toString else "null"
    // steal_sec: CPU the hypervisor withheld across the whole battery;
    // tens of seconds is an idle host, hundreds+ means contaminated
    // medians (discard and re-run). loadavg bounds co-resident pressure.
    val host =
      f"""{"steal_sec":${(hostEnd._1 - hostStart._1) / 100.0}%.1f,""" +
        f""""loadavg_start":${hostStart._2}%.2f,"loadavg_end":${hostEnd._2}%.2f,""" +
        f""""wall_sec":${(System.nanoTime() - wallStart) / 1e9}%.1f}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},""" +
        s""""failed":${failed.map(Harness.json).mkString("[", ",", "]")},""" +
        s""""queries":$qs,"spread":$spread,"outliers":$outliers,"host":$host,""" +
        s""""iters":$iters,"sf":${Harness.json(sfDir)},${Harness.provenance(cpus)}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")),
      json + "\n")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
