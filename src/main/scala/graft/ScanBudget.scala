package graft

/** The machine-readable expected-scans table (round-8 verdict item 1):
  * for every registered query, how many times its EXECUTED plan may scan
  * each source table. [[Explain]] checks every run against this table and
  * exits nonzero on any excess, so a plan regression (a lost cache reuse,
  * a new unintended re-scan) fails loudly at regeneration time instead of
  * aging silently inside PLANS.md prose.
  *
  * Semantics: the budget counts distinct executed `FileSourceScan` NODES
  * per table (identity-deduped, cache-internal scans included — the same
  * counting [[Explain]] prints), keyed by table name without the
  * `.parquet` suffix. The default budget is ONE scan per table; every
  * entry in [[exceptions]] is a documented design floor — a query whose
  * semantics genuinely need a second pass (self-joins, CDC diffs,
  * command+snapshot ledger paths) — with the reason inline. Scans of
  * paths that are not registered tables (e.g. q91's maintained index
  * directory, q84's stored-history artifact) are exempt: they are the
  * operators' own bounded artifacts, not source re-reads.
  *
  * A budget is an UPPER bound: tightening a plan below budget is free
  * (the regeneration prints the new counts; tighten the entry with it),
  * exceeding it is a hard failure.
  */
object ScanBudget {

  /** Default: one executed scan per (query, table). */
  val default = 1

  /** Documented multi-scan design floors (each row regenerated against
    * the executed plans — see PLANS.md — and justified inline). */
  val exceptions: Map[String, Map[String, Int]] = Map(
    // OUT⋈IN transfer self-joins: two passes over the ledger by design
    // (J2's documented floor — the two legs filter different types).
    "q16_transfer_pairs" -> Map("lineitem" -> 2),
    "q17_transfer_patterns" -> Map("lineitem" -> 2),
    "q46_transfer_patterns_top10" -> Map("lineitem" -> 2),
    // Command+snapshot ledger paths: the procedure validates against the
    // current snapshot, then emits — two passes is the documented floor.
    "q34_transfer_validate" -> Map("lineitem" -> 2),
    "q35_transfer_ledger" -> Map("lineitem" -> 2),
    "q36_ledger_replay" -> Map("lineitem" -> 2),
    // CDC/audit diffs compare two ledger states.
    "q38_audit_diff" -> Map("lineitem" -> 2),
    "q39_new_cells" -> Map("lineitem" -> 2),
    // Valuation joins stock cells to order-derived cost legs.
    "q33_stock_valuation_avg" -> Map("lineitem" -> 2),
    // T1 delta: checkpoint-pruned old leg + post-checkpoint new leg.
    "q56_trend_delta" -> Map("events" -> 2),
    // Dedup verdict/evidence compositions: the keep-list leg re-joins
    // document evidence to the candidate-pair leg.
    "q57_dedup_keep_list" -> Map("documents" -> 2),
    "q58_dedup_keep_multimodal" -> Map("documents" -> 2, "embeddings" -> 2),
    // Verdict + quality + language evidence legs over one corpus.
    "q62_curation_verdict" -> Map("documents" -> 3),
    // Incremental dedup: corpus index leg + arriving-batch leg.
    "q70_dedup_increment" -> Map("documents" -> 2),
    // MinHash: signature leg + banded candidate-pair evidence leg.
    "q28_neardup_minhash" -> Map("documents" -> 2),
    // Decontamination: eval-set shingle leg + corpus leg (+ the bloom
    // variant's prescreen build).
    "q75_decontamination" -> Map("documents" -> 2),
    "q81_decontamination_bloom" -> Map("documents" -> 3),
    // Contamination provenance: q75's eval-leg + training-leg floor (the
    // pair join needs both carves as separate join inputs).
    "q146_contamination_provenance" -> Map("documents" -> 2),
    // ANN: corpus leg + broadcast query leg (self-joins over one table);
    // q48 adds the seed-centroid leg. q85/q91 prove the cached-projection
    // form (ONE scan) — these uncached shapes are the documented floor.
    "q29_ann_bruteforce" -> Map("embeddings" -> 2),
    "q30_ann_lsh" -> Map("embeddings" -> 2),
    "q47_embedding_neardup" -> Map("embeddings" -> 2),
    // q88/q89 (capped path, round-10): ONE scan — the ranked working set
    // is persisted and all four pair-gen subtrees read the cache. (q89's
    // listing can show zero scans: its 0.95-threshold output is empty at
    // correctness scale and AQE's empty-relation propagation drops the
    // executed stages from the final plan — the budget is the 1-scan
    // design, not that artifact of emptiness.)
    "q88_embedding_neardup_auto" -> Map("embeddings" -> 1),
    "q90_ivf_assignment" -> Map("embeddings" -> 2),
    // q141: the q90 2-scan shape (corpus stream + broadcast seed
    // centroids); argmin and rank key share one per-vector aggregate.
    "q141_cell_diversity_cap" -> Map("embeddings" -> 2),
    "q48_ann_ivf" -> Map("embeddings" -> 3),
    // Evaluation harness: composes the two 2-scan retrieval floors it
    // compares (q29 exact + q30 approximate) — the comparison itself
    // adds no scan.
    "q103_ann_recall" -> Map("embeddings" -> 4),
    // Profile drift: two snapshots are profiled by construction (the
    // baseline slice and the current stream); a production run diffs
    // against the STORED baseline profile artifact instead (1 scan).
    "q118_profile_drift" -> Map("events" -> 2),
    // Curation funnel: q62's plan (2 dedup-evidence scans) + the funnel's
    // flag-projection corpus scan — the same 3-scan floor as the verdict.
    "q119_curation_funnel" -> Map("documents" -> 3),
    // Vocabulary coverage: train-the-vocab pass + score-the-corpus pass —
    // the honest tokenizer-build shape (the vocab artifact is V rows and
    // broadcast back; persisting the corpus-sized occurrence stream to
    // save the second pass would cost more than it saves at scale).
    "q107_vocab_coverage" -> Map("documents" -> 2),
    // Hybrid RRF: the dense leg inherits q29's corpus-leg + broadcast
    // probe-leg floor (the BM25 leg rides q122's one documents scan).
    "q127_hybrid_rrf" -> Map("embeddings" -> 2),
    // Scalar-quantized ANN: corpus leg + broadcast probe leg (the q29
    // self-join floor). The screen quantizes each NORMALIZED vector on
    // its own (Ann.quantized), so there is no train leg: both legs are
    // the one un-persisted quantized projection, read once per side.
    "q132_ann_quantized" -> Map("embeddings" -> 2),
    // Quantized-screen recall evaluations: q162/q163/q164 all ride the
    // DEFAULT 1-scan budget since round 15 — recallAgainstBrute tracks
    // the withNorm projection, so the exact leg's two subtrees and the
    // serve's screen leg plan-match one cached embeddings scan (the
    // round-14 form executed 4 scans in q162; ADVICE #5).
    // BPE-budgeted RAG packing: q161's one-scan BM25 leg + the q121
    // token-count leg. At deploy the per-doc token count is an index
    // attribute stored next to dl (q125's postings already carry dl),
    // so the second leg is a build-time cost, not a serve-time scan.
    "q167_rag_context_bpe" -> Map("documents" -> 2),
    // Bigram-LM perplexity: train-the-model pass (collapses to the
    // distinct-bigram-grain model) + score-the-corpus pass — q107's
    // honest train/score 2-scan floor applied to the LM quality filter
    // (production trains on a sample/stored model and scores in 1 pass).
    "q145_bigram_perplexity" -> Map("documents" -> 2),
    // NB family (round 18): the class prior is a THIN (doc_id, lang)
    // documents scan — parquet prunes the text column — instead of a
    // (doc_id, lang) distinct over the persisted corpus-TERM-grain
    // frame: +1 thin-column scan, −1 full pass over the doc-term frame
    // and its doc×partition-sized exchange (guide §2.3). The heavy
    // text-bearing scan stays at 1 (the persisted dt frame).
    "q149_nb_classifier" -> Map("documents" -> 2),
    "q152_nb_confusion" -> Map("documents" -> 2),
    "q153_label_audit" -> Map("documents" -> 2),
    "q156_nb_calibration" -> Map("documents" -> 2))
    // q63s (round-12): the registered twin now executes the fused
    // single-scan SQL, so it rides the default 1-scan budget — the
    // round-10/11 two-scan dialect floor is retired. The oracle's
    // two-CTE dialect shape remains pinned (rows-identical) by
    // ExtensionsSpec without occupying the deployed plan.

  def maxScans(query: String, table: String): Int =
    exceptions.getOrElse(query, Map.empty).getOrElse(table, default)

  /** Tables whose scans the budget governs: exactly the registered
    * source tables; operator-owned artifacts (index dirs, stored
    * history) are exempt by not being here. */
  def governed(table: String): Boolean = Tables.names.contains(table)
}
