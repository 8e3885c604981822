package graftbench

/** Outputs pinned from the seed commit: every `ops-suite` query's row
  * count over the sf0.1 tables, and its content hash (the sum of
  * `xxhash64` over all columns of every row) where its output has no
  * floating-point or map column. Every value repeated exactly across
  * separate runs before it was pinned. */
object Pins {
  import OpsSuite.Seen
  private def h(rows: Long, hash: String) = Seen(rows, Some(hash))
  private def n(rows: Long) = Seen(rows, None)

  val ops: Map[String, Seen] = Map(
    "q01_agg" -> n(6L),
    "q02_join_topk" -> n(10L),
    "q03_window_topk" -> n(44953L),
    "q04_dup_mark" -> h(150000L, "-3203456860474306904544"),
    "q05_anti_join" -> h(25L, "-40295812675841772098"),
    "q06_events_window" -> n(38913L),
    "q07_json" -> n(5L),
    "q10_normalize" -> h(5000L, "374188841550691566251"),
    "q11_tokens" -> h(31L, "-32440047183334508637"),
    "q12_trigrams" -> h(75L, "-7806987515750773892"),
    "q13_blocking_pairs" -> h(249L, "-99864793485551601870"),
    "q14_pair_scores" -> n(249L),
    "q15_metaphone" -> h(40000L, "643621014427816685683"),
    "q16_match_score" -> n(2435L),
    "q17_phrases" -> h(192L, "-63962811994817604096"),
    "q18_prior_scores" -> n(5000L),
    "q20_exact_dedup" -> h(4992L, "109645695492240276899"),
    "q21_minhash" -> h(40000L, "85163453182130556709"),
    "q22_lsh_pairs" -> h(729L, "-71345904810834473489"),
    "q23_ngram_jaccard" -> n(260L),
    "q24_simhash" -> h(5000L, "-337980443705960426438"),
    "q25_embedding_neardup" -> n(3046L),
    "q26_cosine_topk" -> n(50L),
    "q27_ann_ivf" -> n(100L),
    "q28_langid" -> h(5000L, "183084025814306633476"),
    "q29_quality" -> n(5000L),
    "q30_token_stats" -> h(5000L, "-765290011864588668861"),
    "q31_fingerprint" -> h(5000L, "326893823399492841720"),
    "q32_media_meta" -> h(5000L, "43932285580899255615"),
    "q33_components" -> h(64L, "17466666466311231647"),
    "q34_spatial_cell_join" -> n(160800L),
    "q35_areaset_ops" -> h(25L, "7278517712360070865"),
    "q36_format_address" -> h(1000L, "103264768082407037312"),
    "q37_housenumber_join" -> h(20000L, "177518368507592860925"),
    "q38_area_assembly" -> h(15000L, "-141101644094535157253"),
    "q39_suggest" -> h(1480L, "-292884572106747065807"),
    "q40_point_in_polygon" -> h(43200L, "550382942615463598773"),
    "q41_category_match" -> n(20000L),
    "q42_rank_skeleton" -> h(3780L, "224378722148893465944"),
    "q43_area_disambig" -> h(1000L, "-217981656563637755788"),
    "q44_subset_cache" -> h(241L, "-132724313267806724431"),
    "q45_incremental_components" -> h(64L, "17466666466311231647"),
    "q46_html_extract" -> h(5000L, "349661575757950801517"),
    "q47_url_normalize" -> h(5000L, "176868877618665906483"),
    "q48_link_extract" -> h(15000L, "-253244525320840621769"),
    "q49_pagerank" -> h(5000L, "-620833546764474501551"),
    "q50_repetition" -> h(5000L, "-472903739334853138807"),
    "q51_for_each_name" -> h(17477L, "137726451483647943697"),
    "q52_reverse_streets" -> n(45000L),
    "q53_stratified_sample" -> h(1702L, "-83068606738815431570"),
    "q54_bm25" -> h(15000L, "-122645081670780743066"),
    "q55_dedup_lifecycle" -> h(5000L, "-753062662061997126296"),
    "q56_audio_meta" -> h(5000L, "797319046080055881445"),
    "q57_video_meta" -> h(5000L, "528881567005129055374"),
    "q58_reverse_lookup" -> h(45000L, "814410474375182884318"),
    "q59_substring_dedup" -> h(256L, "149093746734106574717"),
    "q60_token_budget_sample" -> h(869L, "-34786861006223937029"),
    "q61_curation_pipeline" -> h(5000L, "71390917907146906969"),
    "q62_decontaminate" -> h(20L, "24908467370058542165")
  )
}
