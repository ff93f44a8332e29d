#!/usr/bin/env python3
"""Standing per-round scale artifact: run graft.ScaleProbe on the scale
subset at sf0.01 and at a synthesized sf1 (10x sf0.1 by key-offset
replication), compute the 100x per-query ratios, and write
SCALE_r{N}.json next to the BENCH artifacts so scale regressions diff
across rounds.

Round-10 discipline (verdict asks #1/#3):
 - ISOLATED series of record: each probe JVM runs at most CHUNK (=4)
   queries, so accumulated per-query state can no longer inflate
   late-chunk readings (the round-9 in-run contamination measured up
   to 4x on q80/q243/q167). Probes launch as bare `java` (classpath =
   compiled classes + /opt/spark/jars) — sbt would pay ~40 s of launch
   tax per chunk.
 - OUTPUT-NORMALIZED readings: ScaleProbe now reports each query's
   emitted row count; the artifact carries rows_small/rows_big and
   ratio_per_row = (sec_big/rows_big) / (sec_small/rows_small) beside
   the wall ratio. Pair-emitting queries over a replicated corpus grow
   their OUTPUT superlinearly by design (near-dup detectors detect the
   replicas) — runtime per emitted row is their honest scale metric.

Usage: tools/scale.py <round> [queryCsv]
"""
import json, subprocess, sys

QUERIES = ",".join([
    # environment CONTROL: a trivial fixed filter-project whose
    # cross-round drift isolates host speed from plan regressions —
    # read it first when comparing rounds
    "q02_filter_project",
    "q01_pricing_summary", "q04_nation_revenue", "q08_running_qty",
    "q26_dedup_minhash", "q52_dedup_groups", "q78_zorder",
    "q80_locf_resample", "q93_ann_distributed", "q105_pagerank",
    "q108_perplexity", "q110_feature_hash", "q111_e2e_rag",
    "q123_hybrid_rrf", "q125_span_dedup", "q129_shard_assign",
    "q130_segment_dedup", "q132_dsir_select",
    "q81_session_overlap", "q109_triangles",
    "q143_ivf_pq", "q144_detop_residual", "q146_token_entropy",
    "q148_vocab_growth",
    "q162_association_rules", "q166_rolling_active_users",
    "q167_zone_map", "q168_label_propagation",
    "q177_prefix_jaccard", "q174_pareto_front", "q178_ewma_smooth",
    "q207_cc_stars", "q208_hybrid_skew_join", "q210_kneser_ney",
    "q215_bitmap_distinct", "q216_containment_dedup", "q218_hits",
    "q221_grid_density",
    "q226_naive_bayes", "q230_source_overlap", "q229_acf_hourly",
    "q235_poisson_bootstrap", "q240_image_neardup", "q243_mutual_nn_align",
    "q250_tpch_q3", "q251_tpch_q5", "q252_tpch_q10",
    "q204_clustering_coef", "q197_kcore", "q225_correlation_matrix",
    "q206_rec_holdout", "q122_stream_cdc_upsert", "q139_dedup_canonical",
    "q200_theil_sen", "q205_textrank", "q187_greedy_coverage",
    "q266_mutual_nn_ivf", "q272_tpch_q21", "q273_bucketed_join",
    "q29_simhash_pairs", "q267_jpeg_pixel_decode",
    "q276_tpch_q7", "q282_tpch_q18", "q285_tpch_q16",
    "q288_gif_pixel_decode", "q296_sorted_neighborhood",
    "q295_conformal_interval",
    "q302_tpch_q2", "q303_tpch_q15", "q305_incremental_dedup",
    "q304_pmi_collocations", "q307_modularity", "q308_target_encoding",
    "q312_custom_source",
    "q315_video_frame_sample",
    "q324_unigram_lm_segment", "q326_url_canonicalize",
    "q328_robots_match", "q332_holt_forecast",
    "q329_grec_agg_pushdown", "q325_adpcm_decode",
    "q337_link_prediction", "q338_wordpiece_segment",
    "q343_fellegi_sunter", "q344_lerp_resample",
    "q340_kmv_distinct", "q341_html_extract",
    "q349_kmv_set_algebra", "q350_wordpiece_fertility",
    # round-10: the composed crawl pipeline (one corpus scan, per-stage
    # survivor snapshots — canon/robots/extract/near-dup/quality/pack)
    "q351_crawl_pipeline",
    # round-10 continuation: temperature mixing (group-stat window +
    # md5-rank selection), the containment candidate audit (frequency
    # shuffle + rank window, no pair join), length bucketing (scalar
    # boundary broadcast + one agg)
    "q352_temperature_mix", "q354_containment_candidates",
    "q355_length_buckets",
    # round-11 (verdict ask #2): the block→verify pair family, never
    # probed before — q213 re-cut to constant-size name-prefix blocks
    # this round; q82/q117/q118 carry candidate-volume meters (their
    # outputs are verify-filtered), q196/q213 emit their full pair set
    # (rows-normalized directly)
    "q213_fs_linkage", "q82_fuzzy_pairs", "q117_jw_pairs",
    "q118_dl_pairs", "q196_sorted_neighborhood",
    # round-11 stretch: the incremental (epoched grec-stream) crawl
    # pipeline — election state is horizon-bounded, so the ratio
    # should track the corpus, not the pair grid
    "q358_stream_crawl_incremental",
    # q356 footer audit: tail-only metadata reads, O(files + row
    # groups) — the ratio should stay ~flat at any data scale (the
    # whole point of footer-driven planning)
    "q356_parquet_layout",
    # round-11 continuation: local-DP randomized-response release —
    # two partial-agg shuffles + a codegen'd hash flip, should track
    # the event volume linearly
    "q360_ldp_release",
    # round-11 continuation: SCC over the condensed top-2 transition
    # graph — output fixed at the item vocabulary, so read it by
    # ratio_per_volume (the distillation's transition count)
    "q361_scc_condensation",
    # round-11 continuation: quantile alignment — a global range sort
    # (zipWithIndex dense ids) + one group window + a position join;
    # output linear in the corpus
    "q362_quantile_align",
])

# queries whose OUTPUT is a pair/grid set that grows superlinearly on a
# replicated corpus by design — read these by ratio_per_row, not wall
OUTPUT_BOUND = {
    "q26_dedup_minhash", "q29_simhash_pairs", "q177_prefix_jaccard",
    "q216_containment_dedup", "q240_image_neardup",
    "q305_incremental_dedup", "q80_locf_resample", "q344_lerp_resample",
}

CHUNK = 4  # max queries per probe JVM (isolated discipline)

rnd = sys.argv[1]
queries = sys.argv[2] if len(sys.argv) > 2 else QUERIES

# The sf1 replica + its shuffle spill peak at tens of GB; stale copies
# from a previous (or killed) run have exhausted /tmp before — a probe
# died ENOSPC mid-build. Clear our own replica dirs and, when no JVM is
# alive to own them, orphaned Spark block-manager spill and the engine's
# `graft_*` artifact dirs (a killed run never reaches Caches.clearAll).
import shutil, glob as _glob
no_jvm = subprocess.run(["pgrep", "java"], capture_output=True).returncode != 0
for p in ["/tmp/scale_sf001", "/tmp/scale_sf1"]:
    shutil.rmtree(p, ignore_errors=True)
if no_jvm:
    for p in (_glob.glob("/tmp/blockmgr-*") + _glob.glob("/tmp/spark-*")
              + _glob.glob("/tmp/graft_*/")):
        shutil.rmtree(p, ignore_errors=True)

import os

ADD_OPENS = []
for p in ["java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", f"{p}=ALL-UNNAMED"]

CP = "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"


def ensure_compiled():
    r = subprocess.run(["sbt", "-batch", "compile"], cwd="/root/repo",
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-3000:] + "\n" + r.stderr[-2000:])
        sys.exit(1)


def probe_chunk(src, out, copies, qcsv, times_only=False):
    cmd = (["java", "-Xmx16g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", CP, "graft.ScaleProbe", src, out, str(copies), qcsv] +
           (["times"] if times_only else []))
    r = subprocess.run(cmd, capture_output=True, text=True, cwd="/root/repo")
    lines = [l for l in r.stdout.splitlines() if '"metric":"scaleprobe"' in l]
    if not lines:
        sys.stderr.write(r.stdout[-3000:] + "\n" + r.stderr[-3000:])
        sys.exit(1)
    return json.loads(lines[-1][lines[-1].index("{"):])


def probe(src, out, copies, jvm_series=1):
    # ISOLATED discipline: at most CHUNK queries per JVM. The replica
    # builds in a DEDICATED JVM first (round-11: the first timed chunk
    # used to share its JVM with the multi-GB replica write and its
    # big-side readings came out 2-3x inflated by writeback/page-cache
    # residue — the control read 5.8x where fresh-JVM repeats read
    # ~2.5x); the _READY flag makes every timed chunk read-only.
    #
    # jvm_series > 1 (round-11 continuation): the SUB-SECOND side's
    # chunks re-run in that many fresh JVMs and each query keeps its
    # MINIMUM wall — a single JVM draw that JITs slowly inflated the
    # r11 artifact's control small side 3x (1.25 s vs 0.35-0.41 s on
    # repeats), flipping sub-second ratios either direction. Repeat
    # series measure walls only (ScaleProbe "times" mode); the
    # deterministic rows/vols counts come from the first series.
    probe_chunk(src, out, copies, "-")
    names = queries.split(",")
    merged = None
    for s in range(jvm_series):
        for i in range(0, len(names), CHUNK):
            part = probe_chunk(src, out, copies,
                               ",".join(names[i:i + CHUNK]), times_only=s > 0)
            if merged is None:
                merged = part
            else:
                for q, sec in part["queries"].items():
                    prev = merged["queries"].get(q)
                    merged["queries"][q] = sec if prev is None else min(prev, sec)
                merged["rows"].update(part.get("rows", {}))
                merged.setdefault("vols", {}).update(part.get("vols", {}))
    return merged


ensure_compiled()
# small side: min over 3 fresh-JVM series (every query is sub-second
# at sf0.01, so one slow-JIT JVM draw distorts its ratio materially);
# big side: single series (multi-second walls amortize JVM variance)
small = probe("/root/testdata/sf0.01", "/tmp/scale_sf001", 1, jvm_series=3)
big = probe("/root/testdata/sf0.1", "/tmp/scale_sf1", 10)
ratios = {q: round(big["queries"][q] / max(small["queries"][q], 1e-9), 2)
          for q in big["queries"]}
rows_small = small.get("rows", {})
rows_big = big.get("rows", {})
rows_ratio = {q: round(rows_big[q] / max(rows_small.get(q, 0), 1) , 2)
              for q in rows_big}
ratio_per_row = {}
for q in big["queries"]:
    rs, rb = rows_small.get(q, 0), rows_big.get(q, 0)
    if rs > 0 and rb > 0:
        ratio_per_row[q] = round(
            (big["queries"][q] / rb) / (small["queries"][q] / rs), 2)
# round-11 (verdict asks #3/#7): internal-volume normalization for
# fixed-output probes — runtime per candidate pair / decoded row, the
# reading that distinguishes "linear compute behind a LIMIT 100" from
# genuine superlinear growth.
vols_small = small.get("vols", {})
vols_big = big.get("vols", {})
vols_ratio = {q: round(vols_big[q] / max(vols_small.get(q, 0), 1), 2)
              for q in vols_big}
ratio_per_volume = {}
for q in vols_big:
    vs, vb = vols_small.get(q, 0), vols_big.get(q, 0)
    if vs > 0 and vb > 0 and q in big["queries"]:
        ratio_per_volume[q] = round(
            (big["queries"][q] / vb) / (small["queries"][q] / vs), 2)
artifact = {
    "metric": "scale_100x",
    "round": int(rnd),
    "sf_small": "sf0.01", "sf_big": "sf1 (10x sf0.1 key-offset replication)",
    "discipline": "ISOLATED series of record: fresh JVM per <=4-query "
                  "chunk (no accumulated probe-JVM state — the round-9 "
                  "in-run contamination is structurally gone), min-of-two "
                  "passes per query, GC settle between, caches cleared "
                  "between passes; the sub-second SMALL side additionally "
                  "takes the min over 3 fresh-JVM series per chunk (a "
                  "slow-JIT JVM draw inflated the r11 control small side "
                  "3x); per-query OUTPUT row counts recorded "
                  "un-timed after the timed passes. Replica documents "
                  "carry ~25% token-level noise per copy (cross-copy "
                  "Jaccard ~0.4); customer names perturbed per copy. "
                  "Read output_bound queries by ratio_per_row (runtime "
                  "per emitted row): their pair/grid OUTPUT grows "
                  "superlinearly on a replicated corpus by design.",
    "control_q02_ratio": ratios.get("q02_filter_project"),
    "control_q02_sec": {
        "small": small["queries"].get("q02_filter_project"),
        "big": big["queries"].get("q02_filter_project"),
    },
    "seconds_small": {k: round(v, 3) for k, v in small["queries"].items()},
    "seconds_big": {k: round(v, 3) for k, v in big["queries"].items()},
    "rows_small": rows_small,
    "rows_big": rows_big,
    "rows_ratio_100x": rows_ratio,
    "vols_small": vols_small,
    "vols_big": vols_big,
    "vols_ratio_100x": vols_ratio,
    "ratio_100x": ratios,
    "ratio_per_row_100x": ratio_per_row,
    "ratio_per_volume_100x": ratio_per_volume,
    "output_bound_queries": sorted(OUTPUT_BOUND),
    "median_ratio": sorted(ratios.values())[len(ratios) // 2],
}
path = f"/root/repo/SCALE_r{int(rnd):02d}.json"
with open(path, "w") as f:
    json.dump(artifact, f, indent=1, sort_keys=True)
print(json.dumps(artifact["ratio_100x"], sort_keys=True))
print(f"wrote {path}; median {artifact['median_ratio']}")
