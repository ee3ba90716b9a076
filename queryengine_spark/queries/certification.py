"""Driver-certification map, computed AT IMPORT TIME from the
driver's ``CORRECTNESS_r*.json`` files in the repo root.

Maps query name -> latest driver round whose CORRECTNESS row
(rows+schema+hash green) certifies the CURRENT code. The registry
(queries/__init__.py) sorts stalest-first, so the driver's 50-row
oracle window always samples the least-recently-certified queries —
and because this map is recomputed from the files on every import,
the window rotates each round with NO manual regeneration step.

``VOID`` is the one hand-maintained piece: a green hash row only
certifies the code that produced it, so any change that reworks a
query's semantics or oracle must add (or bump) that query here to
drop its stale certification. ``scripts/update_certification.py``
prints the resulting window for inspection.
"""

from __future__ import annotations

import glob
import json
import re
from pathlib import Path

#: query -> last round whose driver row NO LONGER certifies current
#: code (semantics/plan/oracle reworked in a later round). Bump the
#: round number when invalidating a newer row.
VOID: dict[str, int] = {
    # round 2 reworked these after their round-1 rows:
    "fuzzy_candidates_coverage": 1,   # term-dedup index join
    "fuzzy_topk_heuristic": 1,        # term-level top-K prune
    "fuzzy_best_match_heuristic": 1,
    "fuzzy_match_full": 1,
    "dedup_exact": 1,                 # plan rework (r2 bench delta)
    "dedup_ngram_jaccard": 1,         # df-guard added post-r1-row
    "dedup_minhash_lsh": 1,           # band_size 2 -> 4 (+ r3 bucket cap)
    "dedup_simhash": 1,               # 64-bit + banded path
    "dedup_components": 1,            # label-prop rework
    "dedup_embedding": 3,             # r2: all-pairs -> multi-table LSH;
                                      # r4: production 7x4 bucketing default
                                      # (verdict r3 item 6) voids the r3 row
    "knn_bruteforce": 1,              # plan rework
    # r5: recall@3 folded into the parent ANN queries as a column
    "knn_lsh": 4,
    # r5: malformed-payload audit folded in as extra columns
    "events_json_extract": 4,
    "text_kmv_distinct_shingles": 1,  # KMV NULL filter (r2 ADVICE)
    # round 5: k-means oracle centroid update floor(S::DOUBLE/n) ->
    # integer S // n (r4 ADVICE — 2^53 safety); identical results at
    # test scale but the oracle text changed, so every query whose
    # oracle embeds _ivf_cte (or the PQ copy of the pattern) re-certifies:
    "knn_ivf": 4,
    "knn_pq": 4,
    "knn_pq_rerank": 4,
    "dedup_semantic": 4,
    "ml_kmeans_distributed": 4,
    "ml_kmeans_purity": 4,
    "pipeline_cluster_balanced_sample": 4,
    # round 5: snapshot-diff classification now uses join-side
    # presence flags instead of payload nullness (r4 ADVICE):
    "etl_snapshot_diff": 4,
    # round 5: mixed-asset relation gained PNG/GIF/JPEG legs and
    # extract_features routes by magic bytes through all real decoders;
    # round 6: the BMP slot split %8 -> %16 — ids ≡ 8 (mod 16) now
    # carry baseline TIFF containers routed through decode_tiff:
    "multimodal_features": 5,
    # round 6: residue map %2 -> %4 — ids ≡ 3 (mod 4) now carry
    # BI_RLE8-compressed paletted payloads with the row-parity index
    # formula:
    "multimodal_bmp_decode": 5,
    # round 6: residue map %4 -> %8 — ids ≡ 6 (mod 8) now carry
    # SIX-channel (5.1) 16-bit frames; channel gate widened to 1..8:
    "multimodal_wav_decode": 5,
    # round 5: gained the d=2 first-word leg (SymSpell 2-deletion
    # neighborhood):
    "fuzzy_edit_join": 4,
    # round 6: residue map %4 -> %8 — ids ≡ 4, 6 (mod 8) now carry
    # YCbCr 4:2:0 scans (≡ 6 with DRI restart markers); oracle gained
    # the blk420/y420 legs; round 7: the AC pixel refusal closed —
    # every single-component leg now reports exact pixel stats via
    # the pinned fixed-point integer IDCT (oracle gained the
    # idctb/pxterm/pxv/acpix legs):
    "multimodal_jpeg_decode": 6,
    # round 6: residue map %2 -> %4 — ids ≡ 2 (mod 4) now carry
    # paletted (PLTE) payloads, ≡ 3 Adam7-interlaced; schema gained
    # the position-weighted wsum column:
    "multimodal_png_decode": 5,
    # round 6: residue map %4 -> %8 — ids ≡ 6 (mod 8) now carry
    # ANIMATED payloads (multi-image walk + GCE delays); schema
    # gained n_frames / total_delay_cs:
    "multimodal_gif_decode": 5,
    # round 6: global_rank offsets moved from a create_map literal to
    # a broadcast join, and the doubling loop was refactored for
    # arbitrary W (identical classes at W=8, pinned in pytest; the
    # re-certification is the VOID discipline on a touched kernel):
    "curation_repeated_spans_sa": 5,
    # round 6: PPJoin threshold rationalized to p/q integer
    # arithmetic (identical rows at the shipped t=0.5, but every
    # filter expression changed):
    "dedup_jaccard_prefix": 5,
    # round 6: PSL registered-domain extraction — the synthesized
    # hosts now cycle multi-label public suffixes (co.uk, com.au) and
    # the domain column comes from the broadcast longest-match join;
    # url_query also strips the fragment before extracting:
    "curation_url_canonicalize": 5,
    "curation_domain_cap": 5,
    "curation_domain_overlap": 5,
    # round 6 fold: events_session_window_native became a leg of the
    # events_sessionize composite (padded-union schema):
    "events_sessionize": 5,
    # round 6: dedup_incremental now runs from the persisted MinHash
    # band-bucket index artifact (identical rows, new code path):
    "dedup_incremental": 5,
    # round 7: the phash corpus widened from gid%2 BMP/PNG to gid%4
    # BMP/PNG/JPEG/TIFF (JPEG decoded through the new fixed-point
    # IDCT pixel path; oracle gained the JPEG-leg luma branch); the
    # image-ops query consumes the same corpus, so its oracle gained
    # the same branch:
    "dedup_image_phash": 6,
    "multimodal_image_ops": 6,
    # round 7: the md5 weight table became the planted TEACHER and
    # the served weights come from a distributed integer batch
    # perceptron (schema gained confident/trained_margin/
    # trained_label/agree; oracle unrolls the training iterations) —
    # superseded by the round-8 bump below.
    # round 7: knn_filtered folded in the RANGE-predicate leg (bin
    # composition into the (cell, bin) probe key); schema gained the
    # leg column, oracle became the two-leg UNION:
    "knn_filtered": 6,
    # round 7: shard routing %2 -> %4 — shards ≡ 0 (mod 4) now ship
    # as gzip-compressed tar (RFC 1952 reader with flag walk + CRC32/
    # ISIZE verification); fmt CASE gained the tgz arm:
    "source_archive_shards": 6,
    # round 8: text_html_extract gained the WARC→WET roundtrip leg
    # (schema gained leg/fmt; oracle became the two-leg UNION):
    "text_html_extract": 6,
    # round 8: knn_sq8 gained the 'index' leg (persistent SQ8
    # artifact roundtrip — write/read/query must be bit-identical to
    # the in-session path, which IS the leg's oracle); schema gained
    # the leg column and the index leg's NULL recall:
    "knn_sq8": 7,
    # round 8: the perceptron loop + feature relation were extracted
    # into _perceptron_fit/_hashed_feature_buckets so the streaming
    # quality gate can fit/serve frozen weights (identical results,
    # pinned by test_stream_quality_gate_equals_batch_scores; the
    # re-certification is the VOID discipline on a touched kernel):
    "text_quality_classifier": 7,
    # round 8: the phash JPEG DC sub-leg (gid%8==2) became a
    # 3-component 4:4:4 COLOR container decoded through the integer
    # Rec.601 path — the JPEG family hashes color, not replicated
    # luma; both oracles gained the _phj_rgb_sql branches (the
    # image-ops leg rides inside the media suite):
    "dedup_image_phash": 7,
    "multimodal_media_suite": 7,
    # round 8: every 3-component leg gained full-resolution RGB sums
    # (pinned integer NN chroma upsample + ×1000 Rec.601 inverse);
    # schema gained sum_r/sum_g/sum_b, oracle gained the rgbdcpx/
    # rgbpx/rgbsums CTEs; the 3-component AC paths now decode ONCE:
    "multimodal_jpeg_decode": 7,
    # round 8: TIFF profile map %3 -> %4 — ids ≡ 3 (mod 4) now carry
    # LZW-compressed strips with Predictor 2 (TIFF 6.0 §13/§14,
    # MSB-first EarlyChange); oracle gained the gray3 arm:
    "multimodal_tiff_decode": 7,
    # round 8 (r7 ADVICE): deviation products widened BIGINT ->
    # DECIMAL(38,0)/HUGEINT (overflow past ~3e9 docs) and the
    # overflowable dev_num output column dropped — schema changed:
    "profile_source_drift": 7,
    # round 8 (r7 ADVICE): stats-less parquet chunks now poison only
    # the facts they withhold (all-null row groups keep contributing
    # n_nulls; min/max unaffected by value-free chunks) instead of
    # nulling the whole column:
    "source_footer_profile": 7,
    # round 9 (verdict item 2): every ANN eval/query sample became a
    # fixed ABSOLUTE count (vec_id % stride = 0 AND vec_id < stride ×
    # 64) instead of a corpus fraction — eval cost is now O(corpus);
    # the cap is not binding at sf0.01 (1,000 vectors) but the query-
    # set definition changed in both engines, so every suite whose
    # oracle embeds the sample predicate re-certifies:
    "knn_ann_suite": 8,
    "knn_pq_suite": 8,
    "knn_lsh_index": 8,
    "knn_filtered": 8,
    "knn_sq8": 8,
    # round 9 (verdict item 3): WARC record payloads became full HTTP
    # messages / warc-fields (the real CommonCrawl anatomy); the
    # record-stats schema gained the http_* columns and the WET leg
    # now strips the HTTP header block before extraction:
    "source_warc_records": 8,
    "text_html_extract": 8,
    # round 9 (verdict items 4 + 8): the TIFF profile map gained the
    # tiled-LZW (%16==10), tiled-deflate-RGB (%32==14) and planar-2
    # (%32==30) slots — the image-decode fold's tiff leg and the
    # media suite's augment leg (both consume synthesize_tiff) emit
    # new rows; the image-decode fold's jpeg leg also gains the r9
    # centered-upsample sub-columns; the png leg's palette slot split
    # %4 -> %8 — ids ≡ 6 (mod 16) now carry 8-bit TRUECOLOR (color
    # type 2) and ids ≡ 14 (mod 16) 16-BIT truecolor payloads; late
    # r9 additions on the same leg: SOF3 lossless jpeg (%32 ≡ 19/21),
    # gray+alpha (%32 ≡ 23), interlaced RGBA (%32 ≡ 28), 1-bit gray
    # (%16 ≡ 9), 4-bit palette (%16 ≡ 10):
    "multimodal_image_decode": 8,
    "multimodal_media_suite": 8,
    # (the standalone pre-fold entries certify through the composites
    # but keep VOID parity for the direct-import test harness)
    "multimodal_tiff_decode": 8,
    # round 10 (verdict item 2): even-shard routing %4 -> %8 — shards
    # ≡ 4 (mod 8) now ship as .tar.bz2 and ≡ 6 (mod 8) as .tar.xz
    # (the r9 codecs' corpus slots); fmt CASE gained the tbz/txz arms:
    "source_archive_shards": 9,
    # round 10 (verdict item 7 + late addition): the gray-16 slot
    # splits — ids ≡ 21 (mod 32) now store the SAME gray-16 image
    # Adam7-INTERLACED — and the 1-bit slot splits the same way
    # (≡ 25 (mod 32) interlaced sub-byte; each Adam7 pass packs its
    # own bit rows). Identical oracle rows by construction; the
    # re-cert proves the new interlaced decode paths reproduce them:
    "multimodal_png_decode": 9,
    "multimodal_image_decode": 9,
    # round 10 (verdict item 4): the media suite gained the
    # 'video_mp4' leg — MP4/ISO-BMFF frame sampling through the real
    # stsc/stco/stsz sample-table walk (schema unchanged; the fold
    # emits new rows and the oracle gained the leg's UNION arm);
    # late r10: a quarter of that corpus (asset % 4 == 3) ships
    # FRAGMENTED (moof/traf/trun + tfdt decode clocks) — same frames,
    # container-agnostic oracle, one re-cert covers both paths:
    # round 11 (r10 verdict item 3): both fragmented-mode refusals
    # closed — ids ≡ 7 (mod 16) now ship LEGACY implicit traf base
    # addressing and ids ≡ 15 (mod 16) HYBRID moov-prefix +
    # fragments; same frames, container-agnostic oracle, so one
    # re-cert covers all four addressing paths:
    "multimodal_media_suite": 10,
    # round 11 (r10 verdict item 2): the even-shard residue map grew
    # from %8 to %16 — 8/12 now ship .tar.zst and 10/14 .jsonl.zst,
    # decoded by the from-scratch RFC 8878 zstd decoder; the fmt tag
    # and per-shard bytes changed for half the even shards:
    "source_archive_shards": 10,
    # round 11 (r10 verdict item 4): WAT production widened from
    # response-only to the full record set (request + warcinfo
    # envelopes, rec_type column added) — new rows AND a new schema:
    "source_warc_wat": 10,
    # round 11 (r10 verdict item 5): the mixed-WAV telephony slot
    # %8==3 split into the complete G.711 pair — ids ≡ 11 (mod 16)
    # now carry A-LAW (format tag 6) payloads; the wav_decode leg's
    # bytes and oracle changed for those ids:
    "multimodal_audio_suite": 10,
    # round 11 plan rework (identical output, r2 dedup_exact
    # precedent): the single-file documents scan left the synthesize→
    # parse mapInPandas chains on ONE partition at bench scale —
    # spread() now fans the id relation across the cluster first
    # (measured 3.4 s → 1.1 s on revisit at sf0.1; spread self-
    # disables on many-file inputs, so the 100 TB plan is unchanged):
    "source_warc_records": 10,
    "source_warc_revisit": 10,
    # round 12 (r11 verdict item 3): the corpus gained the
    # encoded-font flavor — doc_id % 12 == 10 now routes to
    # /Differences + WinAnsi (and % 24 == 22 adds an overriding
    # /ToUnicode CMap); those ids' bytes, decoded text, and the
    # oracle's text_len/char_sum CASE all changed:
    "source_pdf_text": 11,
    # round 12 (r11 verdict item 4): shards ≡ 26 (mod 32) became
    # DICTIONARY-bearing .jsonl.zst (leading 0x184D2A5D dict frame +
    # hand-rolled dict-referencing zstd frame); identical member
    # output, but the bytes and decode path changed:
    "source_archive_shards": 11,
    # round 12 (r11 verdict item 5): shards ≡ 3 (mod 4) became
    # WAL-mode live captures (main file + -wal bytes, frame
    # overlay + cumulative checksums); identical rows, new bytes
    # and decode path:
    "source_sqlite_rows": 11,
    # round 12 (r11 verdict item 6): the codec split widened %3 → %6
    # (bzip2/xz/zstandard), odd shards now decode through a READER
    # schema (alias + promotion + default), and the projection grew
    # the ``extra`` column — bytes, schema, and oracle all changed:
    "source_avro_records": 11,
    # round 12 (r11 verdict item 10): shards ≡ 2 (mod 4) became
    # SequenceExample streams (context + multi-entry FeatureLists);
    # identical projected rows, new bytes and wire walk:
    "source_tfrecord_examples": 11,
    # round 13: connected_components became one join + one aggregate
    # per round over a self-looped edge relation, and the JPEG
    # (Huffman lookup table), GIF and TIFF (LZW) decoders were
    # rewritten. Later, minhash_signatures became one mapInArrow pass
    # (no explode, no string-min aggregate) and connected_components
    # gained its edge-endpoint check; later still, connected_components
    # became one union-find contraction per partition followed by
    # propagation over the contracted stars only, and then by the
    # large-star/small-star rounds there instead. Identical results,
    # but a touched kernel in every query below (each reaches
    # minhash_signatures or connected_components, or decodes
    # JPEG/GIF/TIFF), so the re-certification is the VOID discipline:
    "dedup_minhash_suite": 13,
    "dedup_components_suite": 13,
    "dedup_keep_canonical": 13,
    "dedup_incremental": 13,
    "pipeline_llm_prep": 13,
    "pipeline_leakage_safe_split": 13,
    "pipeline_cc_ingest": 13,
    "graph_pagerank": 13,
    "graph_triangles": 13,
    "graph_bfs_hops": 13,
    "multimodal_image_decode": 13,
    "dedup_image_phash": 13,
    "multimodal_media_suite": 13,
    # round 14: one JPEG marker walk and one Huffman-DCT decode per
    # payload replace the per-profile walks and block loops. Identical
    # results, but every query that reaches the JPEG decoders (found by
    # making the walk raise and running every registered query) has a
    # touched kernel; multimodal_wav_adpcm crosses into Python through
    # map_rows instead of two hand-written mapInPandas loops:
    "multimodal_features": 13,
    "multimodal_scene_cuts": 13,
    "multimodal_wav_adpcm": 13,
}


def _row_green(row) -> bool:
    return (
        isinstance(row, dict)
        and bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and (row.get("hash_match") is not False)
        and not row.get("err")
    )


def compute_last_certified(repo: Path | None = None) -> dict[str, int]:
    if repo is None:
        repo = Path(__file__).resolve().parents[2]
    if not glob.glob(str(repo / "CORRECTNESS_r*.json")):
        # installed outside the repo checkout (or artifacts missing):
        # fall back EXPLICITLY to "nothing certified" — every query
        # sorts into the window as stalest — and say so, instead of
        # silently computing a stale rotation.
        import warnings

        warnings.warn(
            f"no CORRECTNESS_r*.json found under {repo}; "
            "certification rotation falls back to all-uncertified",
            stacklevel=2,
        )
        return {}
    cert: dict[str, int] = {}
    for path in sorted(glob.glob(str(repo / "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if _row_green(row):
                cert[name] = max(cert.get(name, 0), rnd)
    for name, void_round in VOID.items():
        if cert.get(name, 0) <= void_round:
            cert.pop(name, None)
    return cert


LAST_CERTIFIED: dict[str, int] = compute_last_certified()
