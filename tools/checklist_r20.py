#!/usr/bin/env python3
"""Emit the OPTIMIZATION_r20.md per-query checklist table from three
full-suite bench windows (base / after-batch-1 / final).

Usage: python3 tools/checklist_r20.py [BASE.json MID.json FINAL.json]
(defaults: the committed r20 windows)."""
import json
import sys

DEFAULTS = ("BENCH_BASE32_r20opt.json", "BENCH_AFTER1_r20opt.json",
            "BENCH_FINAL32_r20opt.json")

TOUCHED = {
    "q_ann_pq": "PqDtab+AdcSum kernels (−39 % solo A/B)",
    "q_ann_ivfpq": "PqDtab+AdcSum+NearestCells kernels",
    "q_ann_ivfpq_res": "PqDtab+AdcSum+NearestCells kernels",
    "q_ann_refined": "AdcSum kernel (−4 % solo A/B)",
    "q_ann_ivf": "NearestCells kernel (−24 % solo A/B)",
    "q_ann_lsh": "LshTableBuckets kernel (−8 % raw solo A/B, slower-ambient canary)",
    "q_ann_multiprobe": "MultiProbeBuckets kernel (−46 % solo A/B)",
    "q_pagerank": "checkpoint cadence 1→5 (2.68→2.09 sf0.1, 11.3→7.4 sf1)",
    "q_bfs": "per-hop union checkpoint dropped (−12 % solo A/B)",
    "q_training_batches": "split gate inlined (−5 % sf0.1 / −11 % sf1 raw)",
    "q_image_dedup": "boundary-walk rewrite measured and REJECTED (sf0.1 regression)",
    "q_audio_dedup": "boundary-walk rewrite measured and REJECTED (sf0.1 regression)",
    "q_video_dedup": "boundary-walk rejected; 32-core inversion adjudicated as window noise (solo 0.90 s @32 vs 1.34 @8)",
    "q_kmeans": "re-examined: fused argmin, 1 scan/iter, narrow agg — shape right, floor-bound",
    "q_dedup_keep_best": "re-examined: narrow n_words through the exchange beats shipping text — shape right",
    "q_copurchase": "re-examined: set-agg + in-row pair fan-out + partial agg — shape right",
    "q_benchmark_exposure": "re-examined: broadcast BNL linear in corpus — shape right",
    "q_curate_pipeline": "sf1 A/B evidence behind the r19 wins (2.15×); window split keeps singles anti-join branch",
}
FAMS = [
    ("TPC-H relational", lambda q: q.startswith("q_tpch")),
    ("ANN / vector", lambda q: q.startswith("q_ann") or q in
     ("q_kmeans", "q_scalar_quant", "q_semdedup", "q_text_knn",
      "q_cluster_prune", "q_topic_fingerprint", "q_topic_fp_bits",
      "q_dedup_embedding", "q_decontaminate_semantic")),
    ("dedup / curation", lambda q: q.startswith("q_dedup") or q in
     ("q_curate_pipeline", "q_training_batches", "q_hash_split",
      "q_shuffle_order", "q_quality_filter", "q_quality_score",
      "q_fingerprint", "q_entity_resolve", "q_pack_sequences",
      "q_domain_mix", "q_dsir_weight", "q_dsir_resample")),
    ("graph", lambda q: q in ("q_pagerank", "q_bfs", "q_triangles",
                              "q_copurchase")),
    ("media", lambda q: q in ("q_image_dedup", "q_audio_dedup",
                              "q_video_dedup", "q_multimodal_features",
                              "q_compression_ratio")),
    ("text / tokens", lambda q: True),  # catch-all, must stay last
]


def main(argv):
    if len(argv) not in (0, 3):
        sys.exit(__doc__)
    base, mid, fin = (json.load(open(p))["queries"]
                      for p in (argv or DEFAULTS))
    assigned = set()
    out = []
    for fam, pred in FAMS:
        rows = sorted(q for q in fin if pred(q) and q not in assigned)
        assigned.update(rows)
        out.append(f"\n**{fam}** ({len(rows)} queries)\n")
        out.append("| query | base32 | after-b1 | final | status |")
        out.append("|---|---|---|---|---|")
        for q in rows:
            b = base.get(q)
            m = mid.get(q)
            f = fin.get(q)
            st = TOUCHED.get(q, "examined; unchanged (r19 audit stands)")
            fmt = lambda v: f"{v:.2f}" if isinstance(v, float) else "—"
            out.append(f"| {q} | {fmt(b)} | {fmt(m)} | {fmt(f)} | {st} |")
    print("\n".join(out))
    print(f"\nqueries: {len(assigned)}; touched this round: {len(TOUCHED)}",
          file=sys.stderr)


if __name__ == "__main__":
    main(sys.argv[1:])
