"""Capture physical-plan evidence for the headline operators → PLANS.md.

Run: python tools/explain_plans.py   (writes /root/repo/PLANS.md)

For each headline operator this prints the formatted physical plan and a
short checklist of the plan properties that matter at 10^12-doc scale:
- scan pruning: ReadSchema carries only referenced columns
- pushed filters reach the parquet scan
- broadcast joins where one side is metadata-sized
- exchanges (shuffles): how many, keyed on what
- whole-stage codegen coverage vs Python (ArrowEvalPython/MapInArrow/
  MapInPandas)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

CASES = [
    # (name, why this plan matters at scale)
    ("extract_flagship",
     "The extraction hot path. Wants: one parquet scan, ONE exchange "
     "(the doc_id-hash repartition the north_rule mandates), MapInPandas "
     "for the tokenizer, no extra Python stages."),
    ("lineage",
     "Per-bucket lineage agg. Wants: partial_ hash aggregate BEFORE the "
     "exchange (map-side combine) so 10^12 span rows reduce to n_buckets "
     "rows per task before shuffling."),
    ("resume_anti_join",
     "Checkpoint resume. Wants: BroadcastHashJoin LeftAnti (committed "
     "buckets are metadata-sized) — never a sort-merge join of the corpus."),
    ("dedup_exact",
     "Exact dedup. Wants: sha2 digest computed in the scan projection "
     "(codegen), shuffle keyed on the 32-byte digest, not the document."),
    ("dedup_minhash",
     "MinHash LSH. Wants: signature computation fully codegen'd with ZERO "
     "exchanges before the band-bucket self-join; the only shuffles are "
     "the bucket join + distinct."),
    ("similarity_topk",
     "Brute-force ANN baseline. Wants: BroadcastNestedLoopJoin (query set "
     "is tiny), window top-k, the big side never shuffled."),
    ("embedding_near_dups",
     "LSH near-dup self-join. Wants: the signature UDF evaluated once per "
     "side (cached/exchange-reused), equi-join on bucket, all cosine math "
     "in codegen (no Python in the pair loop)."),
    ("similarity_lsh",
     "Multi-table sign-LSH ANN. Wants: ONE matmul UDF pass per side for "
     "all tables' signatures, explode only of (table, bucket) keys — the "
     "vectors themselves never explode — broadcast of the probe side, "
     "dedup of candidates before the exact re-rank."),
    ("dedup_components",
     "Connected components (one round shown; the loop checkpoints "
     "between rounds). Wants: per-round cost = one shuffle join keyed on "
     "node + a map-side-combinable min-agg; labels from a checkpoint "
     "scan, never a re-derivation of the whole history."),
    ("multimodal_decode",
     "Media metadata decode. Wants: refs from the extraction output "
     "(its MapInPandas), one MapInArrow for synth + one for decode, "
     "repartition by media_ref so giant binaries spread."),
    ("repetition",
     "Token entropy + dup-n-gram fractions. Wants: ZERO exchanges — the "
     "entropy is one aggregate over the sorted token array inside a "
     "codegen'd Project, never an explode→groupBy of 10^12 docs' tokens."),
    ("extract_pdf_cmap",
     "Subset-font PDF parse. Wants: the same shape as extract_pdf — one "
     "scan, Python only in the two Arrow stages (ArrowEvalPython "
     "builder + MapInArrow parser), "
     "no extra exchanges beyond the dev repartition."),
    ("dedup_keep",
     "Keeper election per dedup group. Wants: partial_min(struct) BEFORE "
     "the group exchange (map-side combine), then BroadcastHashJoin of "
     "the one-row-per-group keeper set back onto the group rows — the "
     "group-row side shuffles once and nothing corpus-sized moves."),
    ("stream_dedup",
     "Incremental dedup kernel (3 harness rounds). Wants: per round, one "
     "anti-join keyed on the 32-byte digest (never document bytes) + one "
     "window election shuffle; earlier rounds read from cache (InMemory "
     "scans), never re-derived."),
    ("line_dedup",
     "Cross-document line dedup (CCNet boilerplate pass). Wants: lines "
     "keyed by xxhash64 digest (8 bytes through the counting shuffle, "
     "never line text), map-side partial count_distinct, the boilerplate "
     "set BROADCAST back (left_anti) — the corpus-grain side shuffles "
     "only once, for per-doc reassembly."),
    ("hash_sample",
     "Deterministic stratified sampling. Wants: ZERO exchanges — the "
     "md5-threshold decision is a single codegen'd scan predicate (the "
     "strata thresholds ride a literal create_map), so sampling 10^12 "
     "docs costs exactly one pruned scan."),
    ("decontaminate",
     "Benchmark decontamination. Wants: the eval-set shingle digests "
     "(metadata-sized) BROADCAST; the corpus side is a flat explode "
     "filtered by the broadcast hash join, and the only shuffle is the "
     "per-doc hit count over MATCHED rows — rare by construction."),
    ("redact_pii",
     "PII scrubbing. Wants: ZERO exchanges and ZERO Python — the whole "
     "count+mask chain (regexp_count / regexp_replace per class) is one "
     "whole-stage-codegen'd Project on the scan."),
    ("pack_sequences",
     "Context-window quota packing. Wants: ONE shuffle (hash-partition "
     "by bucket) over metadata-width rows (key + token count, never "
     "text), then per-bucket window sort; both window functions reuse "
     "the same partitioning — no second exchange."),
    ("domain_stats",
     "Per-domain rollup. Wants: host regexp in the scan projection, ONE "
     "domain-keyed shuffle with partial_ aggregates before the exchange "
     "(10^12 rows reduce to ~domain-count rows per task)."),
    ("blocked_domains",
     "Domain blocklist. Wants: BroadcastHashJoin LeftAnti on the "
     "extracted host — the corpus side never shuffles; the blocklist "
     "(list-sized) broadcasts."),
    ("top_terms",
     "Per-doc TF-IDF-family top-k. Wants: tf and df aggs both map-side "
     "combinable, tf⋈df join term-keyed with the vocabulary-sized df "
     "side (AQE broadcasts when it fits), window top-k per doc as the "
     "only doc-keyed shuffle."),
    ("corpus_report",
     "Per-stratum corpus profile. Wants: ONE group-keyed shuffle; "
     "count/sum partial-agg map-side; exact percentile buffers per "
     "group (stratum cardinality — languages × sources; exact=False "
     "switches to the t-digest sketch for adversarial group sizes)."),
    ("link_graph",
     "Outbound-link graph rollup. Wants: one Arrow-batched parse pass "
     "(the query surface's xpath_select UDF), snapshots pruned to href "
     "strings BEFORE the explode, then a domain-keyed map-side-"
     "combinable count(+distinct) — the only shuffle carries (domain, "
     "partials)."),
    ("vocab_table",
     "Tokenizer-training vocabulary. Wants: the token count map-side "
     "combinable (the only corpus-sized shuffle), then the global id "
     "rank as a single-partition window over the metadata-sized post-"
     "cut vocabulary."),
    ("repeated_passages",
     "Corpus-repeated passage flagging. Wants: window digests built in "
     "one codegen'd projection (token hashed once, fixed-arity xxhash64 "
     "per window), map-side count_distinct election, the repeated set "
     "BROADCAST back, one doc-keyed rollup shuffle — the line_dedup "
     "shape at passage granularity."),
    ("lm_perplexity",
     "CCNet-style LM perplexity scoring. Wants: tokenize + bigram "
     "pairing in ONE codegen'd projection (zip with own tail — no "
     "self-join/window), map-side explode, BOTH model joins "
     "BroadcastHashJoin (the model is metadata-sized by contract), and "
     "one doc-keyed partial aggregation as the only corpus shuffle. "
     "Training: two map-side-combinable count shuffles."),
    ("chunk_documents",
     "Overlapping char-window chunking. Wants: ZERO exchanges — chunk "
     "array built in one codegen'd projection, full text DROPPED before "
     "the map-side Generate (the generator emits (chunk_id, offset, "
     "chunk) structs only, so giant docs don't ride along per chunk)."),
    ("url_dedup",
     "Crawl-side URL dedup. Wants: the whole canonicalization (fragment "
     "strip, prefix lowering, default-port strip, tracking-param filter) "
     "as ONE codegen'd projection on the scan, then a single map-side-"
     "combinable shuffle keyed by the canonical string."),
    ("encode_documents",
     "Tokenizer application. Wants: ZERO corpus shuffles — the "
     "vocabulary (32k-256k entries by construction) rides the closure; "
     "one ArrowEvalPython pass per batch. The vocab-training side "
     "(vocab_table) keeps its map-side-combinable count shuffle."),
    ("remove_passages",
     "Exact-substring passage removal. Wants: the repeated_passages "
     "election shape (codegen'd window digests, map-side "
     "count_distinct, repeated set BROADCAST), cut lists carrying "
     "window INDICES not text, one doc-keyed join back, rebuild as a "
     "codegen'd filter projection."),
    ("interleaved_text",
     "Interleaved-sequence assembly (spans → trainer text with <image> "
     "sentinels). Wants: ZERO exchanges, ZERO Python — one codegen'd "
     "transform/filter/array_join projection over the spans array."),
    ("curate",
     "One-call hygiene DAG (blocklist → URL dedup → language → quality "
     "→ exact dedup → decontamination; round-3 single-pass rework). "
     "Wants: ONE scan of the corpus for the stage stack — every gate a "
     "column expression, survivor semantics via precedence masks, the "
     "two elections as CONDITIONAL window-mins (min(when(no-earlier-"
     "reject, id)) over the key) so no survivor set is ever "
     "materialized; the only extra scans are the decontamination "
     "shingle branch (column-pruned to id+text); blocklist BROADCAST; "
     "the lang-ID UDF appears ONCE; zero persisted intermediates."),
    ("materialize_packs",
     "Pack materialization. Wants: pack_sequences' single bucket-keyed "
     "window shuffle (now carrying text — the step where bytes must "
     "move), then a (bucket, pack)-keyed agg whose collect is bounded "
     "by the pack BUDGET, not the corpus."),
    ("group_quota",
     "Per-domain token-budget cap. Wants: ONE group-keyed shuffle + "
     "per-group window sort over metadata-width rows (key, weight, "
     "md5 priority); the keep decision is a codegen'd filter on the "
     "running sum — no second exchange, no driver state."),
    ("split_by_group",
     "Leakage-safe split assignment. Wants: ZERO exchanges — the "
     "content-hash bucket and the CASE threshold chain are one "
     "whole-stage-codegen'd Project on the scan (union of two scan "
     "branches here; each stays exchange-free)."),
    ("epoch_order",
     "Epoch shuffle order. Wants: NO single-task global sort — one "
     "hash-bucket shuffle for the per-bucket rank windows, a "
     "metadata-sized per-bucket count agg whose offsets BROADCAST "
     "back; the one single-partition window runs over <= n_buckets "
     "count rows, never corpus rows."),
    ("mixture_sample",
     "Token-mass corpus mixing. Wants: one map-side-combinable "
     "(stratum, weight) agg for the totals (metadata-sized result, "
     "driver-computed rates), then a pure scan predicate — the keep "
     "decision whole-stage-codegens; no corpus shuffle."),
    ("normalize_text",
     "Canonical text cleanup. Wants: the control-strip / whitespace- "
     "collapse / trim regexes fused into ONE codegen'd Project on the "
     "scan, a single ArrowEvalPython for the NFC pass on the already- "
     "shrunk string, and ZERO exchanges — normalization must be a "
     "scan-speed map at 10^12 docs. (The one RoundRobin exchange in "
     "the recorded plan is the dev-surface single-file scan spread from "
     "_docs(), not the operator — a real multi-file corpus scan has no "
     "exchange here.)"),
    ("apply_robots",
     "robots.txt compliance gate. Wants: rules compiled ONCE per domain "
     "(one ArrowEvalPython on the domain-count-sized robots table), one "
     "host-keyed join (broadcast under AQE — the compiled side is "
     "metadata-width), one vectorized decision pass; the URL table "
     "never shuffles more than the single join."),
    ("parse_warc",
     "WARC container explode. Wants: ONE MapInArrow (the recovering "
     "record scan), blob construction fused into the scan projection, "
     "no exchange — record rows stream out of the same task that read "
     "the archive."),
    ("page_metadata",
     "Page-metadata struct extraction. Wants: ONE ArrowEvalPython for "
     "the parse (all six fields from the same DOM — never one parse "
     "per field), the struct unpacked in a codegen'd Project, zero "
     "exchanges beyond the dev-scan spread."),
    ("domain_rank",
     "PageRank over the domain graph (one round shown; rounds are "
     "localCheckpoint'd like dedup_components). Wants: per-round cost = "
     "one src-keyed join of the persisted share table with the rank "
     "checkpoint + one dst-keyed map-side-combinable sum — all tables "
     "domain-width, never corpus-width; superseded rank checkpoints "
     "released each round."),
    ("content_filter",
     "C4 wordlist gate. Wants: ZERO exchanges and ZERO Python — the "
     "lowercase/split/blocklist-count chain is one whole-stage-codegen'd "
     "Project on the scan (the list rides as a literal array)."),
    ("semantic_dedup",
     "SemDeDup keep/drop list. Wants: cell assignment as one "
     "ArrowEvalPython (broadcast-centroid matmul) in the scan stage, "
     "then exactly ONE exchange keyed on the smallint cell id feeding "
     "FlatMapGroupsInPandas — never a pair-join or a vector shuffle "
     "beyond the single groupBy(cell). (The RoundRobin exchanges under "
     "the Union are the dev-surface single-file scan spread, not the "
     "operator.)"),
    ("strip_media_chrome",
     "Boilerplate-media strip. Wants: the media_ref frequency election "
     "as a map-side-combinable agg whose result is metadata-width and "
     "broadcast back (BroadcastHashJoin) — the span arrays themselves "
     "shuffle ZERO times; the filter is a codegen'd array projection."),
    ("to_markdown",
     "Markdown rendering. Wants: a NARROW map — Scan -> "
     "ArrowEvalPython(markdown_udf) -> Project, zero exchanges, zero "
     "joins — so it composes with any downstream agg for free and "
     "scales embarrassingly at 10^12 docs."),
    ("extract_tables",
     "Table-row explode. Wants: ONE MapInArrow on the scan (the "
     "explode happens inside the Arrow batch), no exchange — output "
     "rows inherit the input partitioning by doc."),
    ("anchor_text",
     "Anchor-text index. Wants: ONE linear tree — a single Arrow parse "
     "pass (a join-of-two-aggs formulation re-parses the corpus per "
     "branch; ReuseExchange cannot dedup column-pruned subplans), "
     "explode of (href, anchor) STRINGS only, ONE url-keyed exchange, "
     "then pre-agg + stacked url-partitioned windows with no further "
     "shuffles."),
    ("json_ld",
     "JSON-LD explode. Wants: ONE MapInArrow on the scan, no "
     "exchange — structured-data rows inherit the doc partitioning."),
    ("readability",
     "Flesch scoring. Wants: pure WholeStageCodegen — three "
     "regexp_count + the formula in ONE Project on the scan, zero "
     "Python stages, zero exchanges."),
    ("hreflang",
     "hreflang explode. Wants: one Arrow parse pass (ArrowEvalPython), "
     "filter+explode of (hreflang, href) STRING structs only in a "
     "codegen'd Generate — narrow map, zero exchanges."),
    ("image_captions",
     "Image-caption pairing. Wants: ONE MapInArrow on the scan (the "
     "figure/alt/title walk is the parser itself), no exchange."),
    ("doc_outline",
     "Heading outline. Wants: ONE MapInArrow on the scan, no "
     "exchange — section rows inherit the doc partitioning."),
    ("fix_mojibake",
     "Mojibake repair. Wants: one ArrowEvalPython pass (the codec "
     "round-trip), everything else codegen'd; zero exchanges."),
    ("detect_code",
     "Code detection. Wants: pure WholeStageCodegen — four "
     "regexp_count + the score formula in ONE Project on the scan, "
     "zero Python stages, zero exchanges."),
    ("image_pixels",
     "Real PNG pixel decode. Wants: encode UDF + the media_ref-hash "
     "repartition (giant-binary spread, the one justified exchange) + "
     "ONE MapInArrow decode; feature math codegen'd after."),
    ("span_language",
     "Per-span lang ID. Wants: codegen'd Generate exploding (kind, "
     "text) strings only, then ONE ArrowEvalPython lang_id pass — "
     "narrow map, zero exchanges."),
    ("snapshot_delta",
     "Crawl-refresh delta. Wants: sha2 digests computed in each "
     "side's scan Project, SortMergeJoin FullOuter keyed on url over "
     "metadata-width rows — document text never reaches the "
     "exchange."),
    ("audio_features",
     "Real WAV PCM decode. Wants: build UDF + media_ref-hash "
     "repartition + ONE MapInArrow decode, RMS math inside the "
     "batch; feature rollup codegen'd after."),
    ("video_frames",
     "Real AVI/MJPEG frame explode. Wants: media_ref-hash "
     "repartition + ONE MapInArrow (the RIFF walk + per-frame JPEG "
     "header parse) — rows inherit the blob partitioning."),
    ("crawl_frontier",
     "Frontier DAG. Wants: canonicalize codegen'd in the scan, ONE "
     "url-keyed map-side-combinable agg, broadcast left joins for "
     "blocklist/crawled/robots sides — the URL corpus shuffles "
     "once."),
    ("media_context",
     "Image-text alignment. Wants: pure array ops in ONE codegen'd "
     "projection (neighbor texts from filtered slices of the bound "
     "spans array) + a narrow Generate — zero exchanges, zero "
     "Python."),
    ("reflow_text",
     "Line-break repair. Wants: ONE codegen'd Project of chained "
     "regexp_replace — zero exchanges, zero Python."),
    ("split_sentences",
     "Sentence explosion. Wants: one codegen'd split + a narrow "
     "Generate (posexplode) — zero exchanges, zero Python."),
    ("nb_classifier",
     "Learned NB quality gate. Wants: tokenize+explode map-side, the "
     "(token,label) model join and the classes join BOTH "
     "BroadcastHashJoin, one doc-keyed exchange with partial "
     "aggregation, argmax via max-struct — zero Python, zero "
     "SortMergeJoin on the corpus."),
    ("image_dedup",
     "Perceptual-hash image dedup. Wants: one MapInArrow pass "
     "computing the 64-bit hash, then ONE map-side-"
     "combinable exchange on the 8-byte phash (partial_count + "
     "partial_min before the shuffle) and a hash-key join back — no "
     "second pass over the image bytes."),
    ("bpe_encode",
     "BPE apply after corpus-pass training. Wants: ONE "
     "ArrowEvalPython pass with the merge ranks riding the closure — "
     "zero corpus exchanges (training's word-count agg is the only "
     "shuffle, map-side combined)."),
    ("audio_spectrogram",
     "STFT audio features. Wants: one MapInArrow pass (all of a "
     "clip's windows batch into a single vectorized rfft) after the "
     "media_ref skew-spread repartition — the only exchange; no "
     "second pass over the PCM bytes."),
    ("semantic_decontaminate",
     "Embedding-level eval leakage. Wants: ZERO shuffles — the eval "
     "matrix rides the UDF closure (metadata-sized by contract) and "
     "the corpus is one scan + one MapInPandas matmul; no join, no "
     "exchange, no vector materialization."),
    ("video_dedup",
     "Video pHash dedup. Wants: one MapInArrow pass decoding only "
     "the SAMPLED frames (per-video work bounded by n_frames), then "
     "the same map-side-combinable 8-byte-hash exchange as "
     "image_dedup; nothing re-reads the video bytes."),
    ("edit_verify",
     "Edit-distance pair verification. Wants: levenshtein fully "
     "codegen'd (zero Python), the metadata-width pair side driving "
     "both id joins (AQE broadcasts it), corpus scanned not shuffled; "
     "substring cap visible in the scan projection."),
    ("bloom_seen",
     "Bloom membership gate. Wants: the BUILD side's position explode "
     "+ distinct as the only exchange (bounded by min(n·k, m_bits) "
     "rows); the PROBE side pure scan + MapInPandas with the bitmap "
     "in the closure — the corpus never shuffles."),
    ("crawl_schedule",
     "Politeness scheduling. Wants: ONE host-keyed window exchange "
     "(fetch_seq); the md5 shard assignment is a codegen'd scan "
     "projection; the host budget is a post-window filter, no second "
     "shuffle."),
    ("image_exif",
     "EXIF metadata decode. Wants: header-only MapInArrow (no pixel "
     "decode anywhere in the plan) after the skew-spread repartition; "
     "scan-speed on giant images because only segment headers are "
     "walked."),
    ("stream_near_dedup",
     "Incremental near-dedup kernel (3 harness rounds). Wants: per "
     "round, band keys from cache (InMemory scans), the history probe "
     "an equi-join on (band, bucket) metadata keys, the election a "
     "band self-join — document text never shuffles; earlier rounds "
     "never re-derive."),
    ("audio_mp3",
     "MP3/ID3 metadata decode. Wants: header-only MapInArrow (the "
     "frame walk skips payloads by computed length, never reads "
     "them); one pass, no shuffle beyond the skew spread."),
    ("subtitles",
     "SRT/WebVTT cue explode. Wants: ONE MapInArrow explode per "
     "blob (the parse_warc shape) — cue rows are the only fan-out, "
     "zero shuffles."),
    ("redact_cc",
     "Luhn-gated card masking. Wants: ZERO exchanges and ZERO Python "
     "— candidate regex, per-span Luhn aggregate, and the literal-"
     "replace fold all in one codegen'd Project on the scan."),
    ("parse_archive",
     "ZIP/TAR member explode. Wants: one MapInArrow explode after "
     "the giant-archive id repartition; member rows are the fan-out, "
     "no shuffle after."),
    ("video_scenes",
     "Scene-change keyframes. Wants: one sequential-decode "
     "MapInArrow pass (bounded frame memo), scene rows the only "
     "fan-out, no shuffle."),
    ("hidden_text",
     "Cloaked-text stats. Wants: ONE ArrowEvalPython (parse + walk in "
     "the same UDF), zero exchanges — a pure per-doc map on the scan."),
    ("publish_date",
     "Date precedence. Wants: one ArrowEvalPython for the DOM fields; "
     "the URL fallback (regexp_extract + lpad) stays in the codegen'd "
     "Project around it — date-less markup costs no second Python pass."),
    ("paywall",
     "Wall signals. Wants: ONE ArrowEvalPython, zero exchanges."),
    ("script_mix",
     "Homoglyph counters. Wants: ZERO Python and ZERO exchanges — four "
     "regexp_counts and the dominant-script CASE in one codegen'd "
     "Project on the scan."),
    ("compress_ratio",
     "zlib gate. Wants: one ArrowEvalPython (zlib is C-speed inside "
     "it), zero exchanges."),
    ("url_signals",
     "URL-shape gate. Wants: ZERO Python and ZERO exchanges — all six "
     "signals as regexp expressions in one codegen'd Project."),
    ("bitext_pairs",
     "Reciprocal-hreflang mining. Wants: ONE parse UDF pass, edges as "
     "string rows; the href→doc resolution is the only corpus-sized "
     "shuffle (url-keyed equi-join); the handshake is a semi-join on "
     "the reversed url pair — no markup moves through either exchange."),
    ("media_quality",
     "Image gate. Wants: the filter itself pure codegen over the "
     "decoded (ref, dims) rows; the only Python is the upstream header "
     "decode MapInArrow."),
    ("interleave_episodes",
     "Episode splitting. Wants: ZERO Python and ZERO exchanges — the "
     "greedy fold, the per-episode slices, and the render are staged "
     "Projects around one Generate (the episode explode)."),
    ("dsir_select",
     "DSIR data selection. Wants: bucket counts with partial_ agg before "
     "their exchanges, the B-row ratio table BROADCAST into the scoring "
     "join, ONE doc-keyed shuffle for the weight sum, TakeOrdered (not a "
     "global sort) for the Gumbel top-k."),
    ("asof_join",
     "As-of join. Wants: ONE exchange keyed on user_id feeding a single "
     "in-partition sort + Window (the union-merge shape) — no join "
     "operator at all on the big side, no per-key blowup."),
    ("range_join",
     "Range join. Wants: SortMergeJoin/ShuffledHashJoin on the bin cell "
     "(an EQUI-join) with the containment residual as a join condition — "
     "never BroadcastNestedLoopJoin."),
    ("merge_upsert",
     "CDC merge. Wants: one union, one exchange on the key, rank-1 via "
     "WindowGroupLimit (top-1 computed map-side before the shuffle)."),
    ("zorder_layout",
     "Z-order plan. Wants: the whole Morton ladder inside one codegen'd "
     "Project over the scan, then one partial_-combined aggregate over "
     "64 file ids — nothing else."),
    ("heavy_hitters",
     "Count-min heavy hitters. Wants: sketch build = explode + ONE "
     "partial_-combined groupBy; estimates via BROADCAST joins of the "
     "d*w sketch rows; candidate top-k via TakeOrdered."),
    ("embedding_quantize",
     "Int8 quantization telemetry. Wants: ZERO exchanges — every metric "
     "is a per-row HOF projection in whole-stage codegen."),
    ("hard_negatives",
     "Hard-negative mining. Wants: the query side BROADCAST (corpus "
     "never shuffled for the pairing), cosine in codegen, per-query "
     "top-k as WindowGroupLimit."),
    ("hll_distinct",
     "HLL distinct. Wants: register build = ONE partial_-combined "
     "groupBy (per-group <= 256 rows); estimate math in codegen."),
    ("bm25_search",
     "BM25. Wants: postings groupBy partial-combined; idf/query join "
     "BROADCAST; scalar N/avgdl as 1-row cross joins riding the plan; "
     "top-20 via TakeOrdered."),
    ("hash_embed",
     "Feature-hash embedding. Wants: ZERO exchanges, ZERO Python — two "
     "md5 calls per token and the fold all in one codegen'd Project."),
    ("thread_assembly",
     "Thread assembly (one resolution round shown; the loop checkpoints "
     "per round). Wants: per-round cost = one equi-join keyed on the "
     "ancestor id; final DFS order = one window over (root, path)."),
    ("loss_mask",
     "Episode loss masking. Wants: ZERO exchanges beyond the episode "
     "derivation — the sentinel-offset fold and the mask arrays are "
     "staged codegen projections."),
    ("parse_jsonl",
     "JSONL source. Wants: from_json (JVM Jackson) inside one codegen'd "
     "Project over the scan — no Python, no inference scan, no shuffle."),
    ("rate_anomalies",
     "Rate anomalies. Wants: ONE partial_-combined groupBy for the "
     "bucket counts, then ONE window pass per group for the trailing "
     "frame — no self-join."),
    ("text_semantic_dedup",
     "Text→embedding→dedup integration. Wants: the hashing fold in "
     "codegen, the LSH self-join carrying only (id, table, bucket) "
     "keys, vectors joined back once for the exact verify."),
    ("fim_split",
     "FIM prep. Wants: ZERO exchanges — gate, split draws, and the "
     "PSM rewrite are one codegen'd Project."),
    ("length_quantiles",
     "Exact quantiles. Wants: one window sort per group + one "
     "partial_-combined conditional-max aggregate; nothing else."),
    ("multimodal_dedup",
     "Joint text+image dedup. Wants: sha2 text edges in a window over "
     "the digest key, pHash edges through ONE decode pass, and the "
     "bounded component loop on the metadata-sized edge set only."),
    ("embedding_pca",
     "Distributed PCA. Wants: ONE corpus scan into per-batch partial "
     "Grams, a kilobyte-sized posexplode shuffle, projection as one "
     "ArrowEval matmul — the corpus itself never shuffles."),
    ("kmeans_clusters",
     "Distributed k-means. Wants: per-iteration assignment in one "
     "ArrowEval matmul and a partial_-combined (cluster,pos) update "
     "shuffle of k*d rows; final labeling one window on the cluster "
     "key."),
    ("funnel",
     "Ordered funnel. Wants: ONE exchange (the groupBy-user "
     "collect_list with partial_ objectHashAggregate); the k-step "
     "walk is a single codegen'd aggregate over the sorted array — "
     "no per-step self-joins, no window passes."),
    ("retention",
     "Retention cohorts. Wants: cohort day via window MIN over the "
     "user partition (one exchange, no firsts join); cohort sizes "
     "re-enter through a BroadcastHashJoin of the tiny report."),
    ("gap_fill",
     "Gap-filled daily counts. Wants: ONE events scan total — "
     "partial_-combined counts, then a single-row aggregate holding "
     "bounds + group set + count map, unpacked by two Generates and "
     "a map probe. No joins, no repeated scans."),
    ("attribution",
     "Last-touch attribution via asof_join. Wants: ONE exchange on "
     "user_id shared by the union + carry-forward window (no "
     "range-join explosion); tolerance null-out is a codegen'd "
     "projection after the window."),
    ("collocations",
     "PMI collocations. Wants: ONE corpus scan (unigram + bigram "
     "entries in the same explode), InMemoryTableScan for the three "
     "count consumers, BroadcastNestedLoopJoin only for the 1-row "
     "totals, TakeOrdered for the top-n."),
    ("gazetteer_tag",
     "Dictionary tagging as a join. Wants: ONE tokenize projection "
     "emitting candidate windows for ALL phrase lengths, one "
     "Generate, a BroadcastHashJoin on the phrase string, map-side "
     "partial mention aggregation. No Python matcher anywhere."),
    ("source_drift",
     "Distribution drift. Wants: ONE corpus scan into the (src,tok) "
     "count shuffle; corpus totals re-aggregated from the persisted "
     "counts (InMemoryTableScan), per-source/grand totals broadcast "
     "back; no dense source x vocab cross join."),
    ("balanced_shards",
     "Weight-balanced sharding. Wants: range-bucketed offsets + "
     "per-bucket windows instead of a single-task total-order sort — "
     "Window partitionBy(_sb), broadcast offsets join, wave "
     "arithmetic as a codegen projection."),
    ("bitext_margin",
     "Margin-based bitext mining. Wants: ONE MapInPandas over the src "
     "side (tgt rides the closure as a numpy matrix; per-batch matmul "
     "emits only neighborhood rows, never the pair matrix), then "
     "windows/joins over k-bounded candidate rows — no corpus-sized "
     "shuffle, no per-pair HOF dot products."),
    ("perplexity_buckets",
     "CCNet corpus bucketing. Wants: lm_perplexity's broadcast-model "
     "scoring shape, cutoffs from ONE skinny (group, ppl) window sort, "
     "the cutoff table BROADCAST back — assignment is codegen'd "
     "comparisons, never a corpus re-sort."),
    ("detect_license",
     "License gate. Wants: ZERO exchanges and ZERO Python — SPDX "
     "extract + all family phrase probes fold into one whole-stage-"
     "codegen'd Project on the scan, cost bounded by the header "
     "window, not doc length."),
    ("preference_pairs",
     "DPO pair mining. Wants: chosen/rejected as partial_min/max "
     "STRUCT aggregates BEFORE the root-keyed exchange (no Window "
     "sort of 10^12 replies), then one equi-join back to the root "
     "prompts."),
    ("temperature_mix",
     "Temperature-alpha rebalance. Wants: totals collected once "
     "(metadata-sized strata), then the keep decision a pure "
     "codegen'd md5-threshold scan predicate — no corpus shuffle."),
    ("span_corruption",
     "T5 denoising prep. Wants: ONE codegen'd projection — tokenize, "
     "per-window md5 draws + slices inside a transform, flatten, "
     "concat_ws; zero Python, zero exchanges, windows never leave "
     "their row."),
    ("pr_curve",
     "Classifier threshold sweep. Wants: ONE corpus scan exploded by "
     "the literal threshold array (rows x |T|, never two scans per "
     "point), partial_ hash aggregate BEFORE the exchange so 10^12 "
     "rows reduce to |T| per task; all predicates codegen'd."),
    ("near_decontaminate",
     "Fuzzy benchmark leakage gate. Wants: band keys codegen'd with "
     "zero exchanges before the candidate join, the BENCHMARK side "
     "broadcast everywhere (eval suites are metadata-sized), corpus "
     "shingle sets materialized only for broadcast-semi-joined "
     "suspects, and the final hit table broadcast back onto doc ids."),
    ("pq_encode",
     "Product quantization. Wants: ZERO exchanges, ZERO Python at the "
     "demo operating point — every subspace distance + first-min CASE "
     "chain inside one whole-stage-codegen'd Project on the scan "
     "(k=256 production codebooks flip to the one-matmul-per-Arrow-"
     "batch MapInPandas path by the same m*k dispatch)."),
    ("domain_weights",
     "DoReMi mix reweighting. Wants: partial_ avg/count BEFORE the "
     "domain exchange (corpus reduces map-side to |domains| rows), "
     "then the softmax window over a metadata-sized single partition "
     "— the corpus is touched exactly once."),
    ("bradley_terry",
     "Preference-rating MM fit. Wants: the comparison table reduced "
     "ONCE (partial_ sums before the pair/win exchanges); every "
     "per-round join over item-cardinality tables only; rounds "
     "truncated by localCheckpoint so the 8-round loop cannot grow "
     "the plan."),
    ("shard_manifest",
     "Reproducibility manifests. Wants: ONE scan per corpus version, "
     "digest + routing computed in the codegen'd projection, partial_ "
     "count/sum/xor BEFORE the shard exchange (corpus reduces "
     "map-side to n_shards rows), diff joins over n_shards-row "
     "tables."),
    ("corpus_rollup",
     "Grouping-sets dataset card. Wants: ONE scan, Expand replicating "
     "rows per grouping set map-side, partial_ hash agg collapsing "
     "replicas BEFORE the single exchange — shuffle carries cells, "
     "never corpus x levels."),
    ("corpus_overlap",
     "Bottom-k overlap sketch. Wants: distinct token hashes with "
     "partial_ dedup before each corpus's exchange, TakeOrdered(k) "
     "per sketch (never a full sort), and every post-sketch join/agg "
     "over <= 2k-row inputs."),
    ("microdata",
     "Microdata explode. Wants: ONE scan, markup built in a codegen'd "
     "Project, ONE MapInArrow (parse+walk per Arrow batch), no "
     "shuffle at all — extraction is embarrassingly parallel."),
    ("token_budget",
     "Water-filling mix plan. Wants: per-source agg with map-side "
     "partials (the only corpus-width work), then the 6-round "
     "recurrence as window sums over the |sources|-row table — "
     "metadata-sized single-partition windows, domain_weights "
     "precedent."),
    ("triangle_count",
     "Edge-orientation triangles. Wants: edge dedup + node-keyed "
     "degree partials, the wedge self-join keyed on the apex with "
     "O(sqrt(m)) fan-out by construction, closing-edge join on the "
     "(x,y) pair — no broadcast assumptions, no hub explosion."),
    ("label_agreement",
     "Fleiss kappa. Wants: groupBy(item,label) with partial_ counts "
     "over the rating stream, per-item fold, then only "
     "metadata-sized reductions and broadcast crossJoins of 1-row "
     "aggregates."),
    ("pareto_select",
     "2D skyline. Wants: per-min-value partial_ max before the value "
     "exchange; the single-partition cumulative window runs over the "
     "DISTINCT-value table only (discretized-metric contract); one "
     "value-keyed join back."),
    ("edit_join",
     "SymSpell edit join. Wants: deletion variants generated inside "
     "whole-stage codegen (no Python), ONE exchange keyed on the "
     "variant string for the candidate equi-join, levenshtein verify "
     "in the join projection."),
    ("kcore",
     "k-core peel. Wants: per-round two-sided left_semi joins against "
     "the checkpointed survivor table + node-keyed partial_ counts; "
     "plan truncated per round (localCheckpoint) so 8 rounds cannot "
     "nest 8 plans."),
    ("retrieval_eval",
     "IR metrics. Wants: gold dedup + hit join keyed on query_id "
     "(co-partitioned), ONE query-keyed agg with map-side partials, "
     "ideal-DCG as a codegen'd sequence aggregate — no windows, no "
     "Python."),
    ("hll_rollup",
     "HLL monoid merge. Wants: every post-sketch stage over "
     "(groups x 256)-row register tables; the '(total)' merge is one "
     "idx-keyed max agg; the corpus is touched only by the token "
     "explode feeding the sketch."),
    ("cdc_dedup",
     "Content-defined chunking. Wants: blob construction in a "
     "codegen'd Project, ONE MapInArrow for the gear-hash walk "
     "(numpy, no per-byte Python), then doc/group-keyed aggs with "
     "map-side partials."),
    ("span_diff",
     "Extraction-run diff. Wants: ONE full-outer sort-merge join on "
     "(doc_id, seq) — the key the span tables are written with — "
     "then a doc-keyed partial_ fold; NULL-safe struct compare "
     "codegen'd."),
    ("tokenizer_fertility",
     "Fertility table. Wants: ONE scan, regexp/length/octet_length "
     "in the codegen'd partial_ agg before the |langs|-row exchange."),
    ("markov_transitions",
     "Markov matrix. Wants: one user-keyed window (lead) over the "
     "event stream, pair-keyed partial_ counts, normalizer window "
     "over the |types|^2-row table only."),
    ("reliability_bins",
     "Calibration bins. Wants: ONE scan with the bucket floor in the "
     "codegen'd projection, partial_ avg/count before the n_bins-row "
     "exchange."),
    ("weighted_sample",
     "A-ES weighted sample. Wants: md5/conv/pow all inside the "
     "codegen'd scan projection, then TakeOrderedAndProject (bounded "
     "per-partition heaps) — NO global Sort exchange for a top-k."),
    ("skew_join",
     "Salted skew join. Wants: the big side's exchange keyed on "
     "(key, salt) — or a broadcast of the exploded dim, which spreads "
     "the hot key across SCAN partitions with zero exchanges — never "
     "a single hot reducer on the raw key."),
    ("quantile_rollup",
     "Histogram quantile sketch. Wants: integer binning in the "
     "codegen'd scan projection, partial_count before the (group,bin) "
     "exchange, then windows/joins over <= n_bins-row tables only."),
    ("frequent_pairs",
     "A-priori pair mining. Wants: ONE doc_id-keyed shuffle for the "
     "pair self-join, the df-band item table BROADCAST back onto the "
     "exploded tokens, partial_count before the pair exchange."),
    ("assign_ids",
     "Contiguous id assignment. Wants: NO global sort — one bucket-"
     "keyed count agg, then one bucket-keyed FlatMapGroupsInPandas; "
     "driver traffic = n_buckets rows + split points."),
    ("containment_join",
     "Containment verify. Wants: the ngram_jaccard broadcast-pairs "
     "shape — shingle arrays built once per side, candidate pairs "
     "broadcast, arrays never shuffle."),
    ("score_percentiles",
     "Quantile normalization. Wants: histogram CDF windows over the "
     "(group, bin) metadata table only, then ONE BroadcastHashJoin "
     "back onto the scan — zero corpus sorts, zero corpus windows."),
    ("skipgram_pairs",
     "Skip-gram pairs. Wants: one posexplode, ONE doc_id-keyed "
     "self-join with the distance band as a residual, partial_count "
     "before the pair exchange."),
    ("similarity_ivfpq",
     "IVF-PQ funnel. Wants: probe rows + LUTs BROADCAST onto the "
     "cell-keyed table, ADC as a codegen'd element_at sum over the "
     "int codes, per-query WindowGroupLimit shortlist, exact cosine "
     "only on the rerank rows."),
    ("robust_outliers",
     "Median/MAD gate. Wants: two scan passes, both histogram aggs "
     "with map-side partials, med/MAD windows over metadata tables, "
     "rows joined to their group stats by BROADCAST."),
    ("group_sample",
     "Per-group k-sample. Wants: WindowGroupLimit (rank filter "
     "pushed into per-partition bounded heaps) before the group "
     "exchange — the shuffle carries k·partitions rows, not groups."),
    ("join_size",
     "CMS join-size probe. Wants: both sketch aggs with partial_ "
     "combine (d·w rows out per side), the inner product + min over "
     "metadata tables — the 10^12-row join itself never runs."),
    ("length_buckets",
     "Bucketed-batching plan. Wants: one histogram agg with "
     "partial_count, quantile algebra on the n_bins table, caps as "
     "ONE broadcast array row, assignment a codegen'd array probe, "
     "|buckets|-row final agg. Zero sorts."),
    ("scd2_history",
     "SCD2 validity windows. Wants: key-partitioned windows only "
     "(lag change flag, running version sum, lead valid_to) — one "
     "key exchange, no joins, no global sorts."),
    ("quantile_map",
     "Cross-corpus quantile transform. Wants: two histogram aggs, "
     "CDF windows over n_bins tables, the source CDF broadcast on "
     "bin, the reference inverse-CDF ONE broadcast array row probed "
     "by a codegen'd array_min(filter)."),
    ("containment_pipeline",
     "LSH→containment funnel. Wants: the dedup_minhash front end "
     "(shuffle-free signatures, banded bucket self-join) feeding the "
     "broadcast-pairs containment verify — shingle arrays never "
     "shuffle."),
    ("set_similarity",
     "Exact prefix-filtered similarity join. Wants: one df agg; the "
     "vocab rank via global_rank (range buckets + PARTITIONED "
     "windows — no unpartitioned row_number anywhere in the plan); "
     "the rank vocab BROADCAST onto exploded tokens; prefix explode "
     "of the RAREST ~10-20%; keys-first candidate equi-join (only "
     "(id, n, p) in the shuffle) + length filter; rank arrays join "
     "back once per side for the verify — never an all-pairs join."),
    ("weighted_draws",
     "With-replacement epoch draws. Wants: spark.range as the only "
     "big side (no input scan), the cumulative table ONE broadcast "
     "row, integer-rank array probe in codegen — zero shuffles."),
    ("poisson_bootstrap",
     "Bootstrap error bars. Wants: ONE scan with R extra partial_ "
     "sum aggregates (md5 + CASE chains all codegen'd in the scan "
     "projection), a single 1-row agg — no resampling pass."),
    ("bloom_join",
     "Bloom-prefiltered join. Wants: the probe (MapInPandas, bitmap "
     "in closure) + seen filter BEFORE the join exchange — the "
     "shuffle carries matches + fp residue, never the whole big "
     "side."),
    ("stream_histogram",
     "Incremental sketch rollup. Wants: per-batch histogram aggs "
     "with partial_count, the union a metadata-table concat, "
     "quantile windows over n_bins rows only."),
    ("vocab_rank",
     "Distributed composite-key global rank. Wants: every Window "
     "node partitioned on the range bucket (never an unpartitioned "
     "row_number), the bucket a codegen'd struct-comparison chain, "
     "one map-side-combinable df agg feeding it."),
    ("image_pixels_deep",
     "Deep-codec image funnel. Wants: ONE MapInArrow decode stage "
     "after the media_ref-hash spread repartition — progressive "
     "JPEG / interlaced deep-PNG decode costs live inside the Arrow "
     "batch, no extra exchanges."),
    ("audio_flac",
     "FLAC audio funnel. Wants: the same ONE-MapInArrow shape as "
     "the WAV path — container dispatch happens per batch row, no "
     "format-specific plan forks."),
    ("video_keyframes",
     "Container keyframe walk (r5). Wants: ONE MapInArrow after "
     "the media_ref-hash spread; the keyframe array explodes "
     "AFTERWARD (narrow generate, no shuffle) — byte-range "
     "planning must never need a second pass over content."),
]


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("explain-plans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    out = [
        "# PLANS — physical-plan evidence for the scale-critical operators",
        "",
        f"Captured by `tools/explain_plans.py` at sf dir `{SF}` "
        "(plans are shape-stable across SF; AQE may re-plan exchanges at "
        "runtime on real clusters).",
        "",
    ]
    for name, why in CASES:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Scale contract:** {why}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
        spark.catalog.clearCache()

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(out)} lines)")


if __name__ == "__main__":
    main()
