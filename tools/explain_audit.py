"""Dump formatted physical plans for the headline queries → EXPLAIN.md.

Evidence artifact for plan-quality review: shows pushed filters, read
schemas (column pruning), join strategies, and exchange placement for
every headline query at sf0.01.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

NOTES = {
    "delta_write_replay": "driver-orchestrated: the builder EXECUTES three partition-pruned merges + a checkpoint, then returns the log census (LocalTableScan) — the merge plan itself is s8_upsert_merge's union+window shape over a partition-pruned scan",
    "merge_occ_two_writers": "driver-orchestrated OCC interleaving; returned census is a LocalTableScan — the per-merge plan is the s8 shape, the protocol is filesystem-level (claim CAS + marker + swap)",
    "delta_time_travel": "driver-orchestrated retain-mode merges + OPTIMIZE + vacuum; returned censuses are log-driven file-list scans (basePath parquet reads of exactly the active files)",
    "sketch_kll_quantile": "one mapInPandas fold per partition -> (value,weight) rows -> ONE bounded shuffle (groupBy value) -> windowed cumulative-rank reads; state ~k*log(n/k) rows per partition, never the data",
    "sft_preference_pairs": "DPO schema gate: one MapInArrow map stage over doc_id+text — zero exchanges beyond the input spread",
    "multimodal_image_dhash": "real BMP encode→decode→dHash/aHash in ONE Arrow stage; signature table is 5 longs/image",
    "multimodal_image_neardup": "banded LSH over dHash: posexplode 8 bands → bucket equi-join (never all-pairs) → bit_count(xor) verify",
    "multimodal_zip_stats": "EOCD-driven ZIP walk + inflate + CRC verify in ONE Arrow map stage — shard-count parallelism, no shuffle",
    "wiki_dump_extract": "export-XML parse + wikitext strip in ONE Arrow map stage; md5-pinned byte-exact recovery",
    "web_wet_conversion": "WARC→WET in ONE Arrow map stage: walk, dechunk, extract, re-emit conversion records",
    "sim_bitext_margin": "Arrow/BLAS cross-cosine (33s→3.3s vs HOF fold) → 2-exchange window pipeline → integer margin",
    "web_table_extract": "table lift in ONE Arrow map stage; md5-pinned full cell grid",
    "multimodal_audio_fingerprint": "real WAV encode→decode→energy-envelope hash in ONE Arrow stage",
    "multimodal_audio_neardup": "banded LSH over energy fingerprints — same 8-band bucket join as images, never all-pairs",
    "multimodal_video_scenecut": "AVI demux + per-frame T.81 decode + integer diff scan in ONE Arrow stage",
    "lm_kneser_ney_score": "one corpus pass → vocab-bounded KN model (windows over the bigram table, localCheckpoint) → one scoring join",
    "lm_perplexity_buckets": "LM scoring + ONE per-lang ntile window — deterministic on the rounded rank key",
    "gopher_quality_gate": "pure-Catalyst rule bundle, integer cross-multiplied ratios, zero Python in the plan",
    "parquet_footer_audit": "thrift-compact footer walk in ONE Arrow stage — O(footer) audit, zero data pages read",
    "parquet_lake_audit": "real-lake footer audit; oracle = DuckDB's independent parquet reader (not formula replay)",
    "parquet_column_scan": "zero-dep page walk + PLAIN decode in ONE Arrow stage; values pinned by md5",
    "parquet_lake_value_scan": "hand-rolled snappy+dictionary reader vs DuckDB's reader on the real lake files",
    "avro_container_stats": "avro encode→sync-verified parse in ONE Arrow stage; md5-pinned recovery",
    "delta_log_replay": "JSON-action snapshot fold in ONE Arrow stage; OPTIMIZE row conservation invariant",
    "table_format_audit": "Hudi COW slice fold + Iceberg snapshot resolution in ONE Arrow stage",
    "tfrecord_stats": "CRC32C-framed TFRecord walk + protobuf Example decode; exact wire-size oracle",
    "tensor_file_audit": "safetensors offset-contiguity validation + npy header parse in ONE Arrow stage",
    "kafka_segment_stats": "CRC32C-verified v2 batch walk + varint record decode in ONE Arrow stage",
    "orc_tail_audit": "protobuf postscript+footer walk in ONE Arrow stage; completes the parquet/avro/orc trio",
    "annotation_fleiss_kappa": "integer-exact agreement sums; two scalar divisions at the end",
    "annotation_bradley_terry": "5 fixed MM rounds: per-round join+agg over a model-sized strength table",
    "dedup_cdc_chunks": "numpy sliding-window Rabin hash in ONE Arrow stage; exact cut list md5-pinned",
    "parquet_gzip_value_scan": "RFC 1952 member-per-page decode under the zero-dep page walk — ONE Arrow stage",
    "iceberg_manifest_audit": "metadata→manifest-list→manifests Avro walk per doc in ONE Arrow stage; every redundant count enforced",
    "sketch_hdr_quantile": "pure-Catalyst octave/sub-bucket grid (≤64·S+1 rows) + tiny cumulative window — sketch build is ONE agg shuffle",
    "multimodal_tiff_stats": "PackBits strips encode→decode roundtrip in ONE Arrow stage; cost ∝ pixel bytes",
    "parquet_zstd_value_scan": "RFC 8878 decode (FSE+Huffman+sequences) per page under the page walk — ONE Arrow stage",
    "orc_value_scan": "stripe walk + RLEv2 + DIRECT_V2 strings, codec rotating NONE/ZLIB/ZSTD — ONE Arrow stage",
    "iceberg_delete_read": "position-delete parquet anti-applied to data parquet via content-routed manifests — ONE Arrow stage; cluster shape = broadcast anti-join",
    "iceberg_equality_delete_read": "equality deletes with the strict-sequence shield — ONE Arrow stage",
    "zorder_layout_stats": "Morton interleave is shift/mask arithmetic in WholeStageCodegen; NTILE sort is the documented repartitionByRange stand-in",
    "zorder_prune_gain": "two layouts' file stats + broadcast NLJ probe overlap — all stats frames broadcast (64 rows)",
    "zstd_codec_roundtrip": "encoder+decoder+libzstd cross-decode in ONE Arrow stage",
    "json_schema_infer": "Arrow path/type walk → ONE partial-aggregated shuffle; lattice is a collect_set CASE, no driver state",
    "parquet_handwrite_roundtrip": "zero-dep parquet WRITE + 2-reader verify in ONE Arrow stage; ZSTD pages by our own encoder on odd ids",
    "roaring_dv_delete_read": "portable-roaring DV build/parse/apply over hand-written parquet — ONE Arrow stage; cluster shape = broadcast DV blobs",
    "arrow_ipc_stream_scan": "flatbuffers walk of pyarrow-written IPC streams — ONE Arrow stage",
    "avro_schema_evolution": "v1->v2 schema resolution per container — ONE Arrow stage",
    "sim_ann_binary_rescore": "one-long-per-vector Hamming shortlist then cosine on shortlist only; broadcast queries, two windows",
    "sim_binary_recall": "binary top-5 LEFT JOIN exact top-5; same broadcast pattern twice + one join",
    "delta_checkpoint_replay": "nested-column checkpoint read + JSON fold per doc — ONE Arrow stage",
    "ingest_encoding_detect": "five wire forms detected/decoded — ONE Arrow stage",
    "ingest_csv_sniff": "dialect score + RFC 4180 parse — ONE Arrow stage",
    "linkage_em_weights": "pattern census in ONE Arrow stage; EM is closed-form over 8 counts, no iterative shuffle",
    "tokenizer_wordpiece_greedy": "vocab = explode+count+rank (bounded K to driver); greedy max-match in ONE Arrow stage",
    "iceberg_bounds_prune": "manifest-bounds file skipping decided at O(metadata) — ONE Arrow stage, zero data files touched",
    "doc_markdown_strip": "markdown strip in one Arrow map stage; byte-exact recovery pinned by md5",
    "dataset_mix_temperature": "bounded-key lang agg + ONE broadcast scalar cross-join; integer-exact temperature mix",
    "q1_pricing_summary": "single scan → partial+final hash agg; shipdate filter pushed to parquet; decimal sums for oracle determinism",
    "q3_shipping_priority": "selective filters below both joins; top-10 via TakeOrderedAndProject (no global sort)",
    "q10_returned_items": "broadcast nation; returnflag + date filters pushed; top-20 heap",
    "j2_star_join_revenue": "region/nation broadcast; only lineitem⋈orders shuffles (AQE may convert at small SF)",
    "w1_latest_wins": "one hash-partition exchange on user_id + per-partition sort; row_number filter",
    "s8_upsert_merge": "union + single window dedup — merge costs one shuffle on the key",
    "j1_full_diff": "exceptAll both directions; hash exchanges only on the compared projection",
    "p1_ddb_decode_roundtrip": "pure projection pipeline (encode→from_json→unwrap) — zero exchanges, whole-stage codegen",
    "t2_tumbling_window": "window() bucketing then hash agg; no extra exchange beyond the agg",
    "dedup_minhash_lsh": "map-only vectorized signatures → banding explode → bucket groupBy → broadcast verify joins",
    "sim_knn_bruteforce": "broadcast 8-query side × corpus stream; per-query top-k window",
    "text_stats": "scan-speed projection: split/filter/array exprs, no shuffle",
    "multimodal_features": "binary encode (JVM) → MapInArrow row-kernel — one python stage, no shuffle",
    "q5_local_supplier_volume": "six-way star: region/nation/supplier broadcast, orders year-filter pushed, one fact shuffle on orderkey",
    "q18_large_orders": "HAVING agg → semi-style join back on l_orderkey (shared partitioning), top-100 TakeOrderedAndProject",
    "asof_last_click": "union-tag + ONE window exchange on user_id — no join, no range explosion",
    "sessionization": "single (user_id) window pass assigns sessions; one bounded-key agg",
    "range_join_follow_events": "bucket-exploded equi-join — BroadcastNestedLoop never appears despite the inequality predicate",
    "dedup_clusters_cc": "final converged-star relabel plan (iterative rounds materialize via localCheckpoint)",
    "decontaminate_ngrams": "per-row distinct shingles before explode; benchmark side distinct then AQE-broadcast equi-join",
    "doc_repetition_stats": "map-only per-row array expressions — zero exchanges at any scale",
    "q4_priority_late_ship": "LeftSemi with non-equi conjunct; quarter filter pushed; key-only shuffle payload",
    "q7_nation_volume": "nation dim joined twice (both broadcast); disjunctive pair filter post-join",
    "q14_promo_revenue": "one-pass conditional agg; month filter pushed; part broadcast",
    "q16_supplier_variety": "broadcast anti side + two-phase distinct agg; part filters pushed",
    "q19_disjunctive_pushdown": "derived OR-envelopes pushed to BOTH scans; full disjunction post-join",
    "doc_chunking": "map-only: tokenize once, posexplode stride starts, slice windows — zero exchanges",
    "dataset_mix": "5-key agg + two broadcast scalar cross-joins; only the count scales with corpus",
    "corpus_ingest_novel": "hash anti-join vs history + capped cross-side block Jaccard; cost ∝ batch",
    "embed_pca_project": "Arrow Gram partials (one row/batch) -> driver eigh -> literal-matrix map-only projection",
    "multimodal_frame_sample": "binary encode (JVM) -> MapInArrow 1:N row-kernel expansion, no shuffle",
    "q2_min_cost_supplier": "correlated-min as per-key aggs sharing l_partkey partitioning; part/supplier broadcast; top-100 heap",
    "q17_small_qty_revenue": "correlated-avg as co-partitioned agg back-join; brand filter broadcast-pruned below the wide join",
    "q21_sole_late_supplier": "EXISTS/NOT-EXISTS pair as one window + one agg on l_orderkey — late frame built once, no self-join",
    "q6_forecast_revenue": "zero joins: all four predicates pushed to the scan, partial+final scalar agg",
    "q8_market_share": "seven relations, every dim broadcast — only lineitem⋈orders⋈customer shuffle; share from ONE conditional agg",
    "q9_product_profit": "LIKE-pruned part broadcast; single fact-fact shuffle on orderkey; 25×years-key agg",
    "q13_order_distribution": "filter lives in the LEFT JOIN condition; custkey agg then tiny-domain histogram agg",
    "text_bm25_topk": "pass 1: one-row corpus-stats agg (broadcast); pass 2: per-row score + TakeOrderedAndProject top-20",
    "text_novelty_score": "explode → count-over-window on shingle key (no join-back) → doc-key agg",
    "token_count_bpe": "map-only regex + integer fold — zero exchanges at any scale",
    "embed_centroid_assign": "centroids packed into ONE broadcast row; per-vector argmin fold — corpus never shuffles",
    "rollup_incremental": "stored + batch hourly partials union → additive re-agg; raw history never rescanned",
    "heavy_hitter_tokens": "one MG-sketch python pass (checkpointed) → broadcast candidate semi-join → exact counts of candidates only",
    "embed_pq_codes": "literal codebook folds per subspace — map-only encode, corpus never shuffles",
    "q11_value_concentration": "per-part agg computed once, reused for rows AND the broadcast scalar threshold",
    "q12_late_priority_count": "shipdate range pushed; cross-table lateness post-join; both counts from ONE agg",
    "q15_top_supplier": "revenue agg once; one-row MAX broadcast back as equality filter",
    "q20_stock_promotion": "one agg yields windowed+total sums; qualifying set reaches supplier as LEFT SEMI",
    "q22_dormant_customers": "broadcast avg-balance scalar; NOT EXISTS = date-pruned LEFT ANTI",
    "agg_argmax_family": "single hash agg on user_id — max_by/min_by replace the self-join-on-max antipattern",
    "doc_embedding_coverage": "key-only embedding projection into the id join; 20-source agg",
    "multimodal_wav_stats": "real WAV encode→decode in ONE MapInArrow stage — no shuffle; every PCM stat re-derived by the oracle",
    "doc_packing": "shard-partitioned running-sum window + same-keyed agg — ONE exchange, no single-partition global sort",
    "dataset_split": "map-only split assignment, one 15-key agg — scan-bound at any scale",
    "doc_rare_bigram_filter": "bigram explode → COUNT OVER bigram key (one shuffle, no join-back) → doc-key agg; integer per-mille score",
    "dataset_token_budget_sample": "map-only token counts → 20-key agg → 20-row rate broadcast back → conditional 20-key agg; corpus never wide-shuffles",
    "dedup_semantic_cells": "centroid route (broadcast fold) → within-cell self-join on the cell key — O(sum cell²) not O(N²); 8-key agg",
    "decontaminate_exact_substring": "substring containment rewritten as 5-gram EQUI-join vs broadcast needles — no contains() scan, no cross join",
    "corpus_curate_full": "full funnel (clean → decontaminate → budget-sample → report); cleaned survivors staged ONCE (localCheckpoint, feeds 3 branches — recompute loses at every scale, A/B in curate.py), downstream composed in one plan; capped blocks, broadcast bench, 20-key aggs",
    "dataset_split_no_leakage": "group-integrity split: one window on the md5(text) key decides per GROUP — duplicates can't straddle train/test",
    "dedup_segments": "one explode (~n_tokens/20 rows), keep-first window on segment keys (WindowGroupLimit), one regroup by doc — nothing all-pairs",
    "text_collapse_repeats": "index-aware filter HOF behind one spread exchange; map-only, scan speed",
    "bpe_train_merges": "ONE distributed corpus pass to the vocab-bounded (word,freq) table; merge loop size-gated to the driver when the vocab fits (zero further jobs), distributed per-merge agg+argmax+fold beyond the gate; plan shown is the result table",
    "dedup_minhash_md5": "same fused signature+banding projection as dedup_minhash_lsh, md5 token hash for oracle replay; bucket pairs + one-scan Jaccard verify",
    "dedup_simhash_md5": "map-only md5 signatures, uncapped byte-band pigeonhole (exact hamming<=3 set), in-bucket hamming verify — no self-join",
    "dataset_epoch_shuffle": "map-only md5 sort key; only shuffle is the per-shard position window (parallelism = shard count, no global sequence)",
    "lm_perplexity_score": "vocab-bounded bigram/context count aggs (model) joined back on bigram key; scalar V broadcast; one per-doc final agg",
    "quality_nb_score": "class-conditional token counts (vocab-bounded) + 1-row scalars broadcast; score = one join + per-doc fold, no corpus self-join",
    "cluster_balanced_sample": "map-only broadcast-codebook argmin assign; salted two-phase top-k (no 8-task window collapse)",
    "source_overlap_matrix": "distinct (source,gram) reduction before UNCAPPED in-bucket pair expansion (buckets bounded by source cardinality by construction); 20-row totals broadcast; size-gated localCheckpoint stages the distinct frame once above 256 MB estimate (lazy/barrier-free at this SF)",
    "multimodal_image_stats": "real BMP encode->decode->resize->decode in ONE MapInArrow stage — no shuffle; oracle recomputes every pixel incl. the resized grid",
    "embed_pca_invariants": "Arrow Gram partials -> driver eigh; then map-only literal projection + explicit reconstruction for k=4/k=16 — Pythagorean identity checked against an eigensolve-free oracle",
    "bpe_encode_stats": "single map-only projection: tokenize → 16 chained merge folds → row-local count sums; zero exchanges",
    "bpe_fertility_by_lang": "same map-only encode; one 5-key bounded agg with exact integer sums",
    "source_unigram_kl": "one corpus pass to (source,token) counts, materialized; marginals re-derived from the small table, KL = bounded-key agg",
    "multimodal_jpeg_stats": "real baseline-JPEG encode->decode in ONE MapInArrow stage after a 1-column spreading exchange (codec is ~1.3 ms/doc of real Python; without it the 1-2 parquet splits serialize the whole corpus onto two cores — measured 7.0 s -> 0.8 s); piecewise-flat blocks make the lossy codec's output exactly oracle-predictable",
    "multimodal_webp_stats": "real VP8L encode->decode in ONE MapInArrow stage after the same 1-column spreading exchange; lossless, so every decoded-pixel stat is oracle-recomputable with no codec",
    "multimodal_flac_stats": "real stereo multi-frame FLAC encode->decode in ONE MapInArrow stage after the spreading exchange; Rice/fixed predictors + CRCs + MD5 all on the hot path, interleaved order pinned by the position-weighted checksum",
    "multimodal_video_frames": "real AVI/MJPEG demux + per-frame T.81 decode, 1:N output (one row per SAMPLED frame); skipped frames never IDCT'd — codec cost scales with frames kept, not frames stored",
    "sample_weighted_aes": "A-ES weighted sample: map-only md5->ln(u)/w key, heap top-k (TakeOrderedAndProject) — zero exchanges, O(k) per partition at any corpus size",
    "p1_variant_decode": "Spark 4 VariantType decode of the DynamoDB wire format: parse_json once -> per-column variant_get path lookups, two fused map-only projects under one codegen stage — zero exchanges",
    "sketch_hll_daily_users": "DataSketches HLL rollup: map-side partial sketch agg below the first exchange, day-level hll_union_agg — distinct-over-time from mergeable aggregates, never re-scanning raw rows at the coarser grain",
    "graph_pagerank": "5 fixed PageRank iterations: degree-annotated edge list checkpointed ONCE (ExistingRDD here) and re-joined per round against the node-sized rank table; DECIMAL(28,18)-exact contribution sums keep the result accumulation-order-free; equi-joins only",
    "graph_pagerank_weighted": "same loop with integral lineitem-count edge weights (rank flows proportional to trade volume): out-strength replaces degree, contribution = pr*w/strength; exact weight sums preserve the determinism contract",
    "cluster_kmeans_train": "final plan is the k*d-row literal result — the work happened in the training loop: per iteration one map-only Arrow exact-fold assignment over the corpus (bit-identical to the literal Catalyst fold, ~6x faster per row; zero exchanges), one k*d-bounded partial-agg shuffle, one k*d driver collect",
    "dedup_semantic_trained": "SemDeDup over TRAINED cells: 2 Lloyd iterations (see cluster_kmeans_train) -> broadcast trained-centroid routing -> within-cell cosine pairs only (the equi-join on cell is the whole cost model: O(sum |cell|^2), sharded across the cluster by the cell key)",
    "cluster_kmeans_maximin": "farthest-first (Gonzalez) seeding: k-1 corpus scans each ending in a 1-row TakeOrdered against a literal seed array (no shuffle), then the same Lloyd loop as cluster_kmeans_train; final plan is the literal result table",
    "cluster_silhouette": "simplified silhouette (O(n*k) vs exact O(n^2)): ONE corpus scan sorts k literal-centroid distances per row (a = ranked[0], b = ranked[1]), exact-decimal per-cluster mean behind the single k-key exchange",
    "sim_ann_ivf_trained": "IVF over deterministically trained cells in a LOSSY config (probe 2/8) with a FULL oracle: cell routing map-only, probed queries broadcast to the candidate cells, rerank reads full vectors only for probed cells' members",
    "cluster_kmeans_parallel_init": "k-means|| init: 3 md5-coin oversampling rounds (2 bounded scans each: exact-decimal phi agg + expected-l filter), one weighting scan, driver-side greedy reduce over the model-sized candidates, then the same Lloyd loop; round count independent of k — final plan is the literal result table",
    "multimodal_mp4_stats": "ISO-BMFF demux: binary build + box walk + stsc*stco*stsz sample-table resolution in ONE MapInArrow row-kernel stage — map-only, no shuffle, no frame decode",
    "sketch_cms_estimate": "CMS: explode x4 depths collapses map-side to <=2048 (depth,bucket) cells before ONE bounded exchange; the 2k-cell sketch then BROADCASTS into the top-20 probe side (no SortMergeJoin)",
    "multimodal_mp3_stats": "mp3 frame-sync walk: build + ID3 skip + VBR frame stepping in ONE MapInArrow row-kernel stage — map-only, no shuffle, no granule decode",
    "multimodal_ogg_stats": "Ogg page walk: build + per-page CRC recompute + lacing reassembly in ONE MapInArrow row-kernel stage — map-only, no shuffle, no Vorbis decode",
    "graph_label_propagation": "LPA: 4 unrolled rounds over once-checkpointed edges; per round ONE edge join + ONE node-keyed deterministic-mode agg (ObjectHashAggregate, map-side label->count maps) — no Window, all-integer; A/B: 10.3s (two-agg form) -> 3.0s",
    "graph_modularity": "LPA labels + Newman Q: labels/edges checkpointed once for their 3 consumers, two node-keyed label joins, one degree agg, one label-keyed sum, 1-row scalar crossJoin; integer-exact numerator, single double division",
    "funnel_conversion": "ordered funnel: per step a pushed type filter + user-keyed min-agg + user-keyed join against the USER-sized previous stage; all shuffles on one key, no window over raw events",
    "retention_cohorts": "retention triangle: user-keyed min-agg cohort map + distinct (user, week) activity + one user-keyed join; integral date math, raw events scanned once per leg",
    "multimodal_fmp4_stats": "fragmented-mp4 demux: moof/tfhd/trun walk with trex-default resolution in ONE MapInArrow row-kernel stage — map-only, no shuffle, no frame decode",
    "multimodal_webm_stats": "WebM/EBML demux: VINT walk + SimpleBlock accounting in ONE MapInArrow row-kernel stage — map-only, no shuffle, no VP9/Opus decode",
    "multimodal_mpegts_stats": "MPEG-TS demux: 188-byte sync walk + PSI CRC recompute + PES accounting in ONE MapInArrow row-kernel stage — map-only, no shuffle, no H.264/AAC decode",
    "sketch_hll_overlap": "HLL set algebra: per-type sketch agg (map-side partials) -> self-join on type order -> hll_union + inclusion-exclusion; overlap answered from stored aggregates, raw history never rescanned",
    "sketch_quantile_grid": "grid quantile sketch: bounded 256-bucket agg with map-side partials -> cumulative-rank window over the 256-row sketch -> bucket-edge reads; nothing scales with row count",
    "session_paths_topk": "path mining: one user-keyed window pass, (user, session)-keyed array_sort agg, path-keyed count with map-side partials, heap top-20 with full tie-break",
    "stats_linear_fit": "OLS via normal equations: one scan, one bounded-key agg of five cent-scaled integer moments; slope/intercept/r2 are double algebra on exact scalars",
    "graph_kcore": "k-core peel: 8 rounds of degree agg + two LEFT SEMI survivor joins over the per-round eagerly checkpointed edge set (checkpoint is load-bearing: lazy form re-expands 2^rounds subplans)",
    "sketch_kmv_distinct": "KMV(32) distinct estimator: one distinct-hash agg with map-side partials, bounded-key window keeping 32 rows/group, one division on exact integers — approximate COUNT DISTINCT with a FULL oracle",
    "sketch_kmv_source_jaccard": "KMV(128) similarity matrix: one sketch pass, then O(sources^2 * k) pair arithmetic — corpus-size-independent after the sketch; per-pair sketches pulled by TWO equi-joins (never a kxk hash cross)",
    "session_basket_lift": "basket affinity: window sessionize -> distinct (user,session,type) baskets -> self-join of the BOUNDED basket table (never raw events); lift is one multiply-divide of exact counts",
    "stats_corr_matrix": "all pairwise Pearson r in ONE pass: 2c + c(c+1)/2 integer moments in a single agg, then double algebra per pair; NULL on degenerate variance",
    "graph_bfs_levels": "frontier BFS: per round the CURRENT FRONTIER (not visited) joins edges, one distinct + one anti-join vs visited, per-round eager checkpoints; early exit on exhausted frontier",
    "w5_sliding_time_window": "RANGE (time-interval) window on integer epoch seconds: one user-keyed window pass; frame membership identical across engines by integer construction",
    "web_url_canonicalize": "URL canonicalization: parse_url + regexp/array expressions entirely inside whole-stage codegen — map-only projection, zero exchanges at any scale",
    "web_domain_stats": "domain scoreboard: map-only canonicalization then ONE bounded-key hash agg (map-side partials; registered domains << documents); avg is a single double division of exact sums",
    "web_domain_quality_join": "quality join-back: the domain-sized tier table BROADCASTS onto the corpus (corpus never reshuffles for the join), then one bounded (source, tier) agg",
    "multimodal_ogg_codec_stats": "Ogg codec identification: build + page-CRC walk + first-packet reassembly + Vorbis/Opus ID-header parse in ONE MapInArrow row-kernel stage — map-only, no shuffle, no sample decode",
    "multimodal_mp4_pts_stats": "MP4 presentation timing: two container builds (ctts+elst moov; trun-cts+tfdt fragments) + DTS->CTS->PTS resolution in ONE MapInArrow row-kernel stage — map-only, no shuffle",
    "graph_triangles": "triangle counting: basket-bounded co-purchase pairs -> degree orientation (out-degree O(sqrt m) under any skew) -> ONE apex self-join for wedges -> one closure equi-join -> explode+count; all-integer",
    "graph_clustering_coeff": "triangle_count's plan + one node-keyed degree agg + one node-keyed LEFT join; coefficient = one double division of exact integers",
    "web_url_dedup": "canonicalization (map-only) -> ONE hash-partitioned window on url_canonical (latest-wins shape): no join, no second scan",
    "ts_gapfill_locf": "hypertable gapfill: (user,bucket) hash agg + a 2-column min/max spine scan (Catalyst folds the spine agg straight onto the pruned scan, both map-side combined) -> spine explode + left join + two user-keyed fill windows on the bucket-sized table",
    "multimodal_jpeg_exif": "EXIF metadata: APP1 TIFF-IFD build (II and MM) spliced into a real baseline JPEG, marker walk + IFD walk back out, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_mp3_sideinfo": "Layer III side info: MSB-first 59-bit granule field groups bit-packed into a real frame and unpacked back, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_flac_tags": "FLAC VORBIS_COMMENT: metadata-chain splice with last-flag rewrite, tags+STREAMINFO walk, sample decode re-verified on the tagged payload, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_png_text": "PNG tEXt/iTXt/pHYs: CRC-live chunk splice + metadata walk + pixel re-verify, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_wav_tags": "WAV LIST/INFO: RIFF-size-patched tag append + chunk walk + stdlib decode re-verify, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_mp4_tags": "MP4 ilst tags: udta splice into a finished file (moov size patch + stco shift), tag walk + full re-demux through the patched sample tables, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_gif_meta": "GIF89a comment/NETSCAPE loop: post-GCT splice + block walk (image skip without LZW) + pixel decode re-verify, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_mp3_tags": "ID3v2 metadata: v2.3 tag build + syncsafe header walk + text-frame decode ahead of the Layer III frame validation, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_ogg_tags": "Opus metadata: conformant OpusHead+OpusTags+audio build, page-CRC demux, comment-structure parse of the reassembled second packet in ONE MapInArrow stage — map-only, no shuffle",
    "text_unicode_repair": "ftfy-style repair: mojibake fixpoint + NFC + strip rules with md5-exact oracle, ONE MapInArrow stage - map-only, no shuffle",
    "web_warc_stats": "WARC demux: member-gzip split + Content-Length record walk + HTTP parse + dechunk, ONE MapInArrow stage - map-only, no shuffle (parallelizes across archive files)",
    "web_crawl_to_text": "crawl capstone: WARC walk + HTTP dechunk + HTML density extract + unicode repair composed, ONE MapInArrow stage - map-only, md5-exact recovery",
    "code_quality_filter": "StarCoder-style line gate: pure Catalyst split/slice/transform/aggregate HOFs - zero Python, scan speed",
    "multimodal_webdataset_stats": "WebDataset shard demux: verified-checksum ustar walk + key grouping with exact-tar-size oracle, ONE MapInArrow stage - map-only, no shuffle",
    "doc_pdf_extract": "PDF extraction: xref walk + Flate inflate + content tokenize with md5-exact text recovery, ONE MapInArrow stage - map-only, no shuffle",
    "dataset_fim_transform": "FIM augmentation: pure Catalyst substring/concat projection - whole-stage codegen, zero Python, zero exchanges",
    "sft_dialogue_stats": "chat-format SFT gate: JSON parse + strict role/alternation validation + per-role budgets, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_audio_quality": "PCM quality gate: WAV round trip + integer peak/clip/RMS/DC/zero-cross features, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_exif_gps_scrub": "image-PII scrub: GPS IFD decode + APP1 rebuild without it + re-parse proof, ONE MapInArrow stage - map-only, no shuffle",
    "web_sitemap_stats": "sitemap protocol parse (urlset/sitemapindex, entity decode, field validation), ONE MapInArrow stage - map-only, no shuffle",
    "web_robots_filter": "RFC 9309 crawl gate: per-domain rule parse (cached, broadcast-shaped) + longest-match evaluation, ONE MapInArrow stage - map-only, no shuffle",
    "web_html_extract": "HTML boilerplate removal: fixture-page synth + density block walk + entity decode + md5 of the recovered text, ONE MapInArrow stage - map-only, no shuffle (scan-speed at 100 TB)",
    "multimodal_aac_stats": "AAC ADTS: header framing + CRC-16 verify + 13-bit frame-length walk, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_h264_nal_stats": "H.264 Annex-B: start-code NAL walk + EPB strip + exp-Golomb SPS parse to cropped dims, ONE MapInArrow stage - map-only, no shuffle",
    "multimodal_vtt_cues": "WebVTT/SRT: both dialect serializers + cue walk (timing, gaps, text chars), ONE MapInArrow stage - map-only, no shuffle",
    "parquet_v2_delta_scan": "parquet v2 read: pyarrow-written DataPageV2 + DELTA_BINARY_PACKED/DELTA_BYTE_ARRAY fixtures through the zero-dep reader, ONE MapInArrow stage - map-only, no shuffle",
    "dedup_prefix_jaccard": "LOSSLESS exact-threshold near-dup join (SSJoin/PPJoin): rarest-first prefix equi-join + integer length/position filters, count-join verify on hashed tokens - never all-pairs, no cartesian",
    "iceberg_write_replay": "driver-orchestrated: three Spark-written commits (append + two partition overwrites) into a v2 metadata chain; returned census is a LocalTableScan read COLD from Avro manifests - data moves only through Spark's parquet writer",
    "merge_schema_evolution": "driver-orchestrated: two merges (second adds a column + widens a type under evolve_schema); final read uses the LOG's schema so old partitions NULL-backfill; census is the s8 shape over the evolved table",
    "sim_bitext_ann_fullprobe": "bitext shortlist in its lossless config: bucket equi-join (single bucket = full pair set), JVM zip_with cosine, 2-exchange margin windows - bit-equal to the broadcast baseline",
    "iceberg_delete_write": "driver-orchestrated: append + position-delete commit (executor-side pyarrow position scans, in-repo parquet delete files), census from the MOR `map_rows` scan — deletes are metadata, no data rewrite",
    "hudi_write_replay": "driver-orchestrated: three COW commits (file-group-routed repartition writes) into a .hoodie timeline; census is a LocalTableScan read COLD from the timeline's write stats via replay_hudi_timeline",
    "sim_bitext_ann": "banded 8x6 bitext shortlist: map-only LSH signatures both sides, (tbl,bucket) equi-join candidates (never all-pairs), zip_with cosine on the sparse shortlist, same 2-exchange margin tail",
}


def parse_flags(argv: "list[str]") -> "dict[str, list[str]]":
    """`--flag value` pairs collected into lists (flags may repeat)."""
    out: dict[str, list[str]] = {}
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--") and i + 1 < len(argv):
            out.setdefault(a[2:], []).append(argv[i + 1])
            i += 2
        else:
            i += 1
    return out


def main(argv: "list[str] | None" = None) -> None:
    from dynamodb_to_datalake_project_spark import catalog, get_spark
    from bench import HEADLINE

    flags = parse_flags(sys.argv[1:] if argv is None else argv)
    queries = flags.get("query", list(HEADLINE))
    sf_dir = flags.get("sf", [SF_DIR])[-1]
    out_path = flags.get("out", ["EXPLAIN.md"])[-1]

    catalog.load_all()
    spark = get_spark("explain-audit")
    plans: dict[str, str] = {}
    for name in queries:
        df = catalog.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plans[name] = buf.getvalue().rstrip()

    # Shuffle-accounting summary: what a reviewer scans first. Counts
    # come from the initial (pre-AQE) plan — the worst case; AQE only
    # removes exchanges (coalesce/broadcast conversion) at runtime.
    summary = [
        "| query | shuffles | broadcasts | scans | pushdown | top-k heap |",
        "|---|---|---|---|---|---|",
    ]
    for name, p in plans.items():
        op_lines = [ln.strip() for ln in p.splitlines() if ln.strip().startswith("(")]
        shuffles = sum(1 for ln in op_lines if " Exchange" in ln)
        bcasts = sum(1 for ln in op_lines if "BroadcastExchange" in ln)
        scans = sum(1 for ln in op_lines if "Scan parquet" in ln)
        pushed = "yes" if "PushedFilters: [I" in p or "PushedFilters: [G" in p else "—"
        heap = "yes" if "TakeOrderedAndProject" in p else "—"
        summary.append(
            f"| {name} | {shuffles} | {bcasts} | {scans} | {pushed} | {heap} |"
        )

    out = ["# EXPLAIN — formatted physical plans of the headline queries",
           "", f"Generated by `tools/explain_audit.py` at {sf_dir}.", "",
           "## Shuffle accounting (initial plan; AQE only removes exchanges)",
           "", *summary, ""]
    for name, plan in plans.items():
        out += [f"## {name}", ""]
        if name in NOTES:
            out += [f"*{NOTES[name]}*", ""]
        out += ["```", plan, "```", ""]
    with open(out_path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {out_path} ({len(queries)} plans)")


if __name__ == "__main__":
    main()
