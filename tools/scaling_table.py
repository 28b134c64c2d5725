#!/usr/bin/env python3
"""Regenerate SCALING.md's per-query table from graft.Bench JSON lines.
Usage: scaling_table.py <bench_sf0.1.json> <bench_sf1.json> [<bench_sf10.json>].
With two files prints the two-point table; with three, the three-point
table (ratio column = last/first). Markdown, descending ratio, plus
headline totals."""
import sys, json

READING = {
    "x_quality": "cause #1 — linear in chars (13.28x), so sublinear",
    "x_ann_lsh_sized": "cause #2's fix, oracle-pinned: planesFor(n) holds bucket density — linear track",
    "x_dedup_embedding_sized": "cause #2's fix for the dedup twin — linear track",
    "x_ann_ivf_probe": "probe-limited exact search at native argmin throughput — linear track (r10)",
    "x_unigram_logprob": "explode + word-keyed shuffle join; linear in tokens",
    "x_dedup_embedding": "cause #2 — fixed hyperplane count, denser buckets",
    "x_token_count": "cause #1 — char-bound regexp, well under 13.28x",
    "x_ann_lsh": "cause #2",
    "x_ann_ivf": "cause #3 — sqrt(N) centroids: O(N^1.5) flops by design, native throughput since r10",
    "x_ann_ivf_hier": "fused two-level build + all-pairs consumer — pays the Σpop² skew (cause #3)",
    "x_ann_ivf_hier_probe": "fused two-level build + probe search — the prescribed pairing, flattest exact-search curve",
    "x_ann_pq": "PQ encode+ADC — flat-coefficient linear track",
    "x_ann_pq_lloyd": "one Lloyd pass over the PQ codebooks: same cost curve, +0.10 recall@5",
    "x_ann_ivfpq": "probe-limited ADC atop the coarse quantizer — corpus-linear since r10",
    "set_ops": "shuffle-bound set algebra; linear-ish in shuffled bytes",
    "x_range_join": "bucket fan-out join; linear in candidate rows",
    "m9_cleaners": "regex-chain bound, narrow",
    "x_dedup_exact": "one hash shuffle, linear",
    "w1_running_total": "partitioned window, linear",
    "m11_match": "narrow regex",
    "t9_fixed_width": "narrow substring unpack",
    "x_stratified": "narrow md5 filter",
    "n3_segments": "per-file window state machine; parallel across files",
    "x_redact": "narrow regexp_replace",
    "x_decontaminate": "broadcast gram-set probe route (gram side under threshold at both SFs)",
    "w3_sliding": "windowed agg",
    "q5_region_revenue": "broadcast dims + one fact shuffle",
    "x_dedup_cluster": "pointer-jumping CC: O(log d) rounds, round cost linear",
    "s5_json_props": "per-line JSON parse, narrow",
    "agg_distinct": "partial-agg shuffle",
    "w2_sessionize": "10x users, same per-user density — the honest shape",
    "q3_top_orders": "shuffle + top-k",
    "x_profile": "one array-percentile aggregate",
    "m8_dates": "narrow date parse",
    "x_minhash_pairs": "LSH bands: salting kept candidate growth linear",
    "x_salted_agg": "two-phase salted agg",
    "x_pack": "per-group window",
    "x_pack_salted": "group+shard windows + broadcast offset stitch",
    "x_temperature_mix": "one corpus agg; rest on the #strata-row table",
    "m17_join": "narrow concat",
    "x_asof_join": "union + window carry-forward",
    "dedup_rows": "dropDuplicates shuffle",
    "x_rep_ratio": "narrow",
    "x_train_split": "narrow",
    "x_lang_id": "narrow",
    "x_simhash": "explode + per-bit sums, one shuffle",
    "t7_klass_fanout": "compiled projection fan-out, narrow",
    "x_minhash": "narrow signature computation",
    "m16_priority": "narrow coalesce",
    "q6_forecast_revenue": "scan + filter + single agg",
    "q1_agg": "was 1-task-scan-bound at sf0.1; now parallel",
    "agg_rollup": "rollup shuffle, amortised",
    "x3_xml_repeat": "fixture-bound (synthetic XML, constant size)",
    "m10_map_dict": "narrow",
    "s11_vcf": "fixture-bound",
    "x_jaccard": "doc_id < 100 bound — constant by contract",
    "x_fingerprint": "narrow, floor-bound",
    "t12_importer_union": "driver fixture generation amortised (cachedFixture)",
    "s9_avro": "job floor",
    "t12b_7z_union": "fixture-bound",
    "s12_pdf_text": "fixture-bound",
    "x_ann_cosine": "fixed 8-query broadcast side; 10x corpus scans in parallel",
    "s15_acroform": "fixture-bound",
    "x_source_cap": "WindowGroupLimit: map-side top-cap heaps, shuffle carries O(sources*cap)",
    "x_cluster_topics": "narrow native argmin + 16-row aggregate",
    "x_quality_filter": "O(1) mean-threshold aggregate broadcast back + narrow gate",
    "x_token_budget": "one lang-keyed exchange; total rides the running-sum window",
    "x_chunk_overlap": "in-row posexplode(sequence) fan-out, native slice/join, zero shuffle",
    "x_bucketed_join": "co-located bucketed scans (32 buckets), zero pre-join exchange",
    "x_vocab_encode": "word-count shuffle + TakeOrdered top-V + broadcast lookup + doc re-agg",
    "x_incremental_dedup": "fingerprint-keyed shuffle-hash anti join; history never broadcast",
    "x_simhash_pairs": "cause #2 at 32 fixed bits - the sized twin is the scale path",
    "x_simhash_pairs_sized": "simhashWidthFor(n) holds band density - linear track",
}

benches = [json.load(open(p)) for p in sys.argv[1:]]
labels = ["sf0.1", "sf1", "sf10"][: len(benches)]
common = sorted(set.intersection(*[set(b["queries"]) for b in benches]))
only = set.union(*[set(b["queries"]) for b in benches]) - set(common)
if only:  # never silently drop a query the totals still include
    print(f"WARNING: not in all runs, excluded from table AND totals: "
          f"{sorted(only)}", file=sys.stderr)
rows = [(q, [b["queries"][q] for b in benches]) for q in common]
rows.sort(key=lambda r: -(r[1][-1] / r[1][0]))
# totals over the SAME query set as the table, so the table sums to them
totals = [sum(b["queries"][q] for q in common) for b in benches]
print(f"TOTALS ({len(common)} queries): "
      + ", ".join(f"{l} {t:.2f} s" for l, t in zip(labels, totals))
      + f", ratio {totals[-1]/totals[0]:.2f}")
print()
ratio_hdr = f"{labels[-1]}/{labels[0]}" if len(benches) > 2 else "ratio"
print(f"| query | {' | '.join(labels)} | {ratio_hdr} | reading |")
print("|---" * (len(labels) + 3) + "|")
for q, ts in rows:
    note = READING.get(q, "")
    cells = " | ".join(f"{t:.3f}" for t in ts)
    print(f"| {q} | {cells} | {ts[-1]/ts[0]:.2f} | {note} |")
