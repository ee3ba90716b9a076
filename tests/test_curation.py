"""Planted-case semantics tests for operators/curation.py: the
corpus-level DuckDB oracle (test_entry_contract) proves cross-engine
parity; these prove the operators do the RIGHT thing on constructed
inputs where the expected answer is known by hand."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from queryengine_spark.operators.curation import (
    _mg_insert,
    containment_pairs,
    exact_heavy_hitter_check,
    heavy_hitters_exact,
    mg_candidate_terms,
    semantic_dedup,
    span_scrub,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


class TestSpanScrub:
    def test_shared_span_removed_everywhere(self, spark):
        span = "alpha beta gamma delta epsilon"
        texts = [
            f"one two {span} three",
            f"{span} four five six",
            f"seven {span}",
            "unique words only here nothing shared",
        ]
        out = {
            r["id"]: r
            for r in span_scrub(_docs(spark, texts), "doc_id", "text", n=5, min_df=3)
            .collect()
        }
        assert out[0]["cleaned_text"] == "one two three"
        assert out[1]["cleaned_text"] == "four five six"
        assert out[2]["cleaned_text"] == "seven"
        assert out[3]["cleaned_text"] == texts[3]
        assert out[0]["n_removed"] == 5 and out[3]["n_removed"] == 0

    def test_below_min_df_kept(self, spark):
        span = "alpha beta gamma delta epsilon"
        texts = [f"one {span}", f"two {span}", "padding so corpus is non trivial"]
        out = span_scrub(_docs(spark, texts), "doc_id", "text", n=5, min_df=3)
        assert out.filter(F.col("n_removed") > 0).count() == 0

    def test_overlapping_occurrences_union_cover(self, spark):
        # the frequent gram occurs twice in doc 0, overlapping by two
        # tokens — covered positions are a UNION, tokens removed once
        g = "a b c d e"
        texts = [f"{g} c d e x", f"{g} y", f"{g} z", f"pad {g} pad"]
        row = (
            span_scrub(_docs(spark, texts), "doc_id", "text", n=5, min_df=3)
            .filter("id = 0")
            .collect()[0]
        )
        # doc 0 = [a b c d e c d e x]: gram "a b c d e" at pos 1 covers
        # 1-5; gram "c d e c d"/"d e c d e" are unique; only x + the
        # second c d e survive unless they also form frequent grams
        assert row["cleaned_text"].endswith("x")
        assert row["n_removed"] >= 5

    def test_every_doc_emitted_once(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = span_scrub(docs, "doc_id", "text", n=5, min_df=3)
        assert out.count() == docs.count()
        assert out.select("id").distinct().count() == docs.count()


class TestContainment:
    def test_exact_subset_scores_one_and_jaccard_misses(self, spark):
        small = "qwxyzkj vbnmpl"
        big = small + " asdfghrt uioplmb cvbnrty dfghvbn ertyuio"
        texts = [small, big, "completely different content words"]
        rows = containment_pairs(
            _docs(spark, texts), "doc_id", "text", n=3, threshold=0.9
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["id_a"], r["id_b"]) == (0, 1)
        assert r["containment"] == pytest.approx(1.0)
        # the whole point: symmetric Jaccard would have missed this pair
        assert r["jaccard"] < 0.6

    def test_no_false_pairs(self, spark):
        texts = ["qwerty uiop asdf", "zxcvb nmlk hjgf", "poiuy trewq lkjh"]
        assert (
            containment_pairs(_docs(spark, texts), "doc_id", "text", n=3, threshold=0.9)
            .count()
            == 0
        )

    def test_df_guard_drops_hot_shingles(self, spark):
        # shingle 'xxx' in every doc; with the guard at 50% it cannot
        # create pairs on its own
        texts = ["xxxx aaa", "xxxx bbb", "xxxx ccc", "xxxx ddd"]
        out = containment_pairs(
            _docs(spark, texts), "doc_id", "text",
            n=3, threshold=0.9, max_df_ratio=0.5,
        )
        assert out.count() == 0


class TestSemanticDedup:
    def _emb(self, spark, vecs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )

    def test_planted_duplicates_marked(self, spark):
        rng = random.Random(7)
        dim = 8
        base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
        # ids 20, 21 duplicate id 3 exactly (same cluster, cosine 1.0)
        vecs = base + [list(base[3]), [x * 2.0 for x in base[3]]]
        out = {
            r["id"]: r["is_dup"]
            for r in semantic_dedup(
                self._emb(spark, vecs), "vec_id", "embedding",
                threshold=0.99, n_cells=4, sample_n=20, train_iters=2, dim=dim,
            ).collect()
        }
        assert out[20] == 1 and out[21] == 1
        assert out[3] == 0  # smallest id of the group survives
        assert sum(out.values()) == 2

    def test_no_dups_below_threshold(self, spark):
        rng = random.Random(11)
        dim = 8
        vecs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(16)]
        out = semantic_dedup(
            self._emb(spark, vecs), "vec_id", "embedding",
            threshold=0.9999, n_cells=4, sample_n=16, train_iters=2, dim=dim,
        )
        assert out.filter("is_dup = 1").count() == 0
        assert out.count() == 16

    def test_wrong_dim_vector_dropped(self, spark):
        rng = random.Random(13)
        dim = 8
        vecs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
        bad = self._emb(spark, vecs).union(
            spark.createDataFrame(
                [(99, [1.0] * 5)], "vec_id long, embedding array<double>"
            )
        )
        out = semantic_dedup(
            bad, "vec_id", "embedding",
            threshold=0.99, n_cells=2, sample_n=10, train_iters=1, dim=dim,
        )
        assert out.filter("id = 99").count() == 0


class TestHeavyHitters:
    def _stream(self, spark, terms):
        return spark.createDataFrame([(t,) for t in terms], "term string")

    def test_exact_on_skewed_stream(self, spark):
        rng = random.Random(42)
        # zipf-ish: few hot terms, long tail
        terms = (
            ["hot_a"] * 500 + ["hot_b"] * 300 + ["warm"] * 40
            + [f"tail_{rng.randrange(2000)}" for _ in range(2000)]
        )
        rng.shuffle(terms)
        got = sorted(
            (r["term"], r["cnt"])
            for r in heavy_hitters_exact(self._stream(spark, terms), "term", 1, 100)
            .collect()
        )
        assert got == exact_heavy_hitter_check(terms, 1, 100)
        assert ("hot_a", 500) in got and ("hot_b", 300) in got

    def test_candidates_are_pruned_superset(self, spark):
        rng = random.Random(3)
        terms = ["hot"] * 1000 + [f"t{rng.randrange(50000)}" for _ in range(5000)]
        rng.shuffle(terms)
        df = self._stream(spark, terms)
        cand = {r["term"] for r in mg_candidate_terms(df, "term", 100).collect()}
        assert "hot" in cand
        vocab = df.distinct().count()
        # the sketch must actually prune (this is its reason to exist)
        assert len(cand) < vocab / 5

    def test_mg_insert_weighted_guarantee(self):
        # deterministic property check: for any stream, a term with
        # freq > N/(k+1) survives the sketch
        rng = random.Random(9)
        for _ in range(25):
            n_items = rng.randrange(50, 400)
            stream = [f"t{rng.randrange(30)}" for _ in range(n_items)]
            k = rng.randrange(4, 20)
            counters: dict[str, int] = {}
            from collections import Counter

            for term, c in Counter(stream).items():
                _mg_insert(counters, term, c, k)
            exact = Counter(stream)
            for term, c in exact.items():
                if c > len(stream) / (k + 1):
                    assert term in counters, (term, c, k, len(stream))


class TestIncrementalDedup:
    def test_new_copy_of_history_doc_flagged(self, spark):
        from queryengine_spark.operators.curation import incremental_minhash_flags

        hist = "the quick brown fox jumps over the lazy dog repeatedly"
        texts = {
            1: hist,
            2: "completely different historical content here",
            10: hist,                      # new, dup of history doc 1
            15: "novel fresh text never seen before anywhere",
            20: "novel fresh text never seen before anywhere",  # new, dup of 15
        }
        df = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        out = {
            r["id"]: (r["dup_of_history"], r["dup_in_batch"])
            for r in incremental_minhash_flags(
                df, "doc_id", "text", is_new=F.col("doc_id") >= 10,
                n_hashes=8, band_size=4,
            ).collect()
        }
        assert set(out) == {10, 15, 20}  # one row per NEW doc only
        assert out[10] == (1, 0)
        assert out[15][0] == 0
        assert out[20] == (0, 1)  # dup of the earlier batch doc, not history

    def test_idempotent_reingest(self, spark):
        """Re-running the batch against a history that now includes
        it flags everything as a history dup — ingest is idempotent."""
        from queryengine_spark.operators.curation import incremental_minhash_flags

        texts = [(i, f"document number {i} with shared vocabulary padding") for i in range(6)]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        both = df.union(df.withColumn("doc_id", F.col("doc_id") + 100))
        out = incremental_minhash_flags(
            both, "doc_id", "text", is_new=F.col("doc_id") >= 100,
            n_hashes=8, band_size=4,
        )
        assert out.filter("dup_of_history = 0").count() == 0


class TestUnicodeNormalize:
    def test_nfc_composes_and_is_idempotent(self, spark):
        from queryengine_spark.operators.curation import nfc_normalize_udf

        decomposed = "café Å"
        composed = "café Å"
        df = spark.createDataFrame(
            [(1, decomposed), (2, composed), (3, None)], "id long, s string"
        )
        nfc = nfc_normalize_udf()
        rows = {r["id"]: r["n"] for r in df.select("id", nfc("s").alias("n")).collect()}
        assert rows[1] == composed          # composition applied
        assert rows[2] == composed          # already-NFC passes through
        assert rows[3] is None              # NULL-safe


class TestQualityClassifier:
    def test_deterministic_and_content_keyed(self, spark):
        from queryengine_spark.operators.curation import hashed_feature_score

        df = spark.createDataFrame(
            [
                (1, "spark engine join window"),
                (2, "spark engine join window"),   # exact dup → same score
                (3, "totally different token stream here"),
                (4, "solo"),                        # 1 token → 1 unigram, 0 bigrams
            ],
            "doc_id long, text string",
        )
        out = {r["id"]: r for r in hashed_feature_score(df, "doc_id", "text").collect()}
        assert out[1]["score"] == out[2]["score"]
        assert out[1]["margin"] == out[2]["margin"]
        assert out[4]["n_feats"] == 1
        # 4 tokens → 4 unigrams + 3 bigrams
        assert out[1]["n_feats"] == 7
        assert all(r["label"] in (0, 1) for r in out.values())
        # re-run: the md5-derived weights are a pure function of text
        again = {r["id"]: r["score"] for r in hashed_feature_score(df, "doc_id", "text").collect()}
        assert {k: v["score"] for k, v in out.items()} == again


class TestBPE:
    def _ref_encode(self, word, merges):
        """Independent quadratic reference: apply merges in TRAINING
        order, each exhaustively, then repeat — equivalent to
        lowest-rank-first rewriting (both compute the unique normal
        form of the confluent rewrite system)."""
        from queryengine_spark.functions.bpe import EOW

        sym = list(word) + [EOW]
        changed = True
        while changed:
            changed = False
            for a, b in merges:
                i = 0
                while i < len(sym) - 1:
                    if sym[i] == a and sym[i + 1] == b:
                        sym[i : i + 2] = [a + b]
                        changed = True
                    else:
                        i += 1
        return sym

    def test_train_learns_frequent_pair_and_encode_matches_reference(self):
        from queryengine_spark.functions.bpe import bpe_encode_word, bpe_train

        words = {"lowest": 5, "lower": 7, "low": 10, "newest": 6, "widest": 3}
        merges = bpe_train(words, 10)
        assert merges, "no merges learned"
        ranks = {p: i for i, p in enumerate(merges)}
        for w in words:
            got = bpe_encode_word(w, ranks)
            assert got == self._ref_encode(w, merges), (w, got)
            assert "".join(got).replace("</w>", "") == w  # lossless

    def test_encode_properties_random(self):
        import random

        from queryengine_spark.functions.bpe import bpe_encode_word, bpe_train

        rng = random.Random(17)
        words = {}
        for _ in range(200):
            w = "".join(rng.choice("abcde") for _ in range(rng.randrange(1, 9)))
            words[w] = words.get(w, 0) + rng.randrange(1, 5)
        merges = bpe_train(words, 50)
        ranks = {p: i for i, p in enumerate(merges)}
        ranks_none: dict = {}
        for w in list(words)[:50]:
            enc = bpe_encode_word(w, ranks)
            assert "".join(enc).replace("</w>", "") == w
            assert enc == self._ref_encode(w, merges)
            # zero merges → pure characters + EOW
            chars = bpe_encode_word(w, ranks_none)
            assert len(chars) == len(w) + 1
            # merges only ever shorten
            assert len(enc) <= len(chars)

    def test_distributed_apply_equals_driver(self, spark):
        from queryengine_spark.functions.bpe import (
            bpe_encode_udf,
            bpe_encode_word,
            bpe_train,
        )

        words = {"sparks": 4, "sparking": 6, "parks": 5, "sharks": 3}
        merges = bpe_train(words, 20)
        ranks = {p: i for i, p in enumerate(merges)}
        df = spark.createDataFrame(
            [(1, ["sparks", "parks"]), (2, ["sharks", "sparking"]), (3, None)],
            "id long, toks array<string>",
        )
        enc = bpe_encode_udf(merges)
        rows = {r["id"]: r["subs"] for r in df.select("id", enc("toks").alias("subs")).collect()}
        assert rows[1] == bpe_encode_word("sparks", ranks) + bpe_encode_word("parks", ranks)
        assert rows[3] is None


class TestCertificationRotation:
    def test_dynamic_map_respects_green_rows_and_void(self, tmp_path):
        import json

        from queryengine_spark.queries.certification import compute_last_certified

        r1 = {
            "q_green": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
            "q_err": {"rows_match": True, "schema_match": True, "hash_match": True, "err": "boom"},
            "q_hashfail": {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
            "fuzzy_match_full": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
        }
        r3 = {
            "q_green": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
            "fuzzy_match_full": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
        }
        (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(r1))
        (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(r3))
        cert = compute_last_certified(tmp_path)
        assert cert["q_green"] == 3            # latest round wins
        assert "q_err" not in cert             # errored row certifies nothing
        assert "q_hashfail" not in cert
        # fuzzy_match_full is VOIDed at round 1 but its r3 row is NEWER
        assert cert["fuzzy_match_full"] == 3

    def test_void_drops_stale_rows_only(self, tmp_path):
        import json

        from queryengine_spark.queries.certification import compute_last_certified

        r1 = {"fuzzy_match_full": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}}
        (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(r1))
        cert = compute_last_certified(tmp_path)
        assert "fuzzy_match_full" not in cert  # r1 row was voided

    def test_missing_or_corrupt_files_are_safe(self, tmp_path):
        from queryengine_spark.queries.certification import compute_last_certified

        (tmp_path / "CORRECTNESS_r02.json").write_text("{not json")
        assert compute_last_certified(tmp_path) == {}


class TestReferenceEquivalence:
    """Seeded-random equivalence of the Spark operators against
    independent (quadratic, obviously-correct) pure-Python reference
    implementations — the same confidence pattern as the fuzzy
    family's simulator grid."""

    def _rand_corpus(self, rng, n_docs, vocab, lo=0, hi=14):
        return [
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(lo, hi)))
            for _ in range(n_docs)
        ]

    def test_span_scrub_matches_reference(self, spark):
        import random

        rng = random.Random(101)
        vocab = [f"w{j}" for j in range(6)]  # tiny vocab → many shared spans
        for trial in range(3):
            texts = self._rand_corpus(rng, 12, vocab, lo=3, hi=12)
            n, min_df = 3, 2
            # reference: covered positions per doc
            grams: dict[str, set] = {}
            docs_toks = [t.split() if t else [] for t in texts]
            for d, toks in enumerate(docs_toks):
                for s in range(len(toks) - n + 1):
                    g = " ".join(toks[s : s + n])
                    grams.setdefault(g, set()).add(d)
            frequent = {g for g, ds in grams.items() if len(ds) >= min_df}
            expect = {}
            for d, toks in enumerate(docs_toks):
                cov = set()
                for s in range(len(toks) - n + 1):
                    if " ".join(toks[s : s + n]) in frequent:
                        cov.update(range(s, s + n))
                kept = [tk for i, tk in enumerate(toks) if i not in cov]
                expect[d] = (len(toks), len(toks) - len(kept), " ".join(kept))
            got = {
                r["id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
                for r in span_scrub(
                    _docs(spark, texts), "doc_id", "text", n=n, min_df=min_df
                ).collect()
            }
            assert got == expect, f"trial {trial}"

    def test_containment_matches_reference(self, spark):
        import random

        rng = random.Random(202)
        for trial in range(3):
            texts = [
                "".join(rng.choice("abcdef") for _ in range(rng.randrange(4, 16)))
                for _ in range(10)
            ]
            n, thr = 3, 0.5
            sh = [
                {t[i : i + n] for i in range(len(t.lower()) - n + 1)}
                for t in (x.lower() for x in texts)
            ]
            expect = set()
            for a in range(len(texts)):
                for b in range(a + 1, len(texts)):
                    if not sh[a] or not sh[b]:
                        continue
                    inter = len(sh[a] & sh[b])
                    if inter / min(len(sh[a]), len(sh[b])) >= thr:
                        expect.add((a, b))
            got = {
                (r["id_a"], r["id_b"])
                for r in containment_pairs(
                    _docs(spark, texts), "doc_id", "text", n=n, threshold=thr
                ).collect()
            }
            assert got == expect, f"trial {trial}"

    def test_semantic_dedup_matches_reference(self, spark):
        """With n_cells=1 every vector lands in one cluster, so the
        reference is plain all-pairs: dup(b) ⇔ ∃a<b cos(a,b) ≥ τ."""
        import math
        import random

        rng = random.Random(303)
        dim, thr = 6, 0.8
        vecs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(25)]
        # plant a few exact/near duplicates
        vecs[20] = list(vecs[2])
        vecs[21] = [x * 1.5 for x in vecs[7]]

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        expect = {
            b: int(any(cos(vecs[a], vecs[b]) >= thr for a in range(b)))
            for b in range(len(vecs))
        }
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        got = {
            r["id"]: r["is_dup"]
            for r in semantic_dedup(
                df, "vec_id", "embedding",
                threshold=thr, n_cells=1, sample_n=25, train_iters=1, dim=dim,
            ).collect()
        }
        assert got == expect


class TestBmpDecode:
    def test_roundtrip_matches_formula(self):
        import numpy as np

        from queryengine_spark.multimodal.bmp import (
            _pixel,
            bmp_params,
            decode_bmp,
            make_bmp,
        )

        for aid in (0, 1, 7, 12, 101, 9999):
            img = decode_bmp(make_bmp(aid))
            w, h = bmp_params(aid)
            assert img is not None and img.shape == (h, w, 3)
            for x, y in ((0, 0), (w - 1, h - 1), (w // 2, h // 3)):
                assert tuple(int(v) for v in img[y, x]) == _pixel(aid, x, y)

    def test_top_down_negative_height(self):
        import struct

        from queryengine_spark.multimodal.bmp import decode_bmp, make_bmp

        b = bytearray(make_bmp(42))
        # flip to top-down storage: negate height, reverse row blocks
        w, h = struct.unpack("<ii", bytes(b[18:26]))
        stride = (w * 3 + 3) & ~3
        off = struct.unpack("<I", bytes(b[10:14]))[0]
        rows = [bytes(b[off + i * stride : off + (i + 1) * stride]) for i in range(h)]
        b[18:26] = struct.pack("<ii", w, -h)
        b[off:] = b"".join(reversed(rows))
        import numpy as np

        orig = decode_bmp(make_bmp(42))
        flipped = decode_bmp(bytes(b))
        assert flipped is not None and np.array_equal(orig, flipped)

    def test_garbage_never_raises(self):
        import random

        from queryengine_spark.multimodal.bmp import decode_bmp, make_bmp

        rng = random.Random(99)
        payloads = [
            b"", b"BM", b"BM" + b"\x00" * 10, b"not a bmp at all",
            make_bmp(5)[:30],                      # truncated headers
            make_bmp(5)[:-7],                      # truncated pixel data
            bytes(rng.randrange(256) for _ in range(200)),
            b"BM" + bytes(rng.randrange(256) for _ in range(100)),
        ]
        for p in payloads:
            assert decode_bmp(p) is None or decode_bmp(p) is not None  # no raise
        # compressed / non-24bpp headers are rejected, not misread
        b = bytearray(make_bmp(3))
        b[28:30] = (8).to_bytes(2, "little")  # bpp=8
        assert decode_bmp(bytes(b)) is None
        b = bytearray(make_bmp(3))
        b[30:34] = (1).to_bytes(4, "little")  # RLE compression
        assert decode_bmp(bytes(b)) is None


class TestWavDecode:
    def test_roundtrip_matches_formula(self):
        from queryengine_spark.multimodal.wav import (
            _sample,
            decode_pcm_wav,
            make_pcm_wav,
            wav_audio_params,
        )

        for aid in (0, 3, 42, 777):
            rate, s = decode_pcm_wav(make_pcm_wav(aid))
            want_rate, want_n = wav_audio_params(aid)
            assert rate == want_rate and len(s) == want_n
            assert all(int(s[i]) == _sample(aid, i) for i in range(want_n))

    def test_unknown_chunks_are_skipped(self):
        import struct

        from queryengine_spark.multimodal.wav import decode_pcm_wav, make_pcm_wav

        b = make_pcm_wav(9)
        # splice a LIST chunk (odd size → word-aligned skip) between fmt and data
        fmt_end = b.index(b"data")
        junk = b"LIST" + struct.pack("<I", 5) + b"xxxxx" + b"\x00"
        spliced = b[:fmt_end] + junk + b[fmt_end:]
        spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        orig = decode_pcm_wav(b)
        got = decode_pcm_wav(spliced)
        assert got is not None and got[0] == orig[0]
        assert list(got[1]) == list(orig[1])

    def test_rejects_non_pcm_and_garbage(self):
        import random
        import struct

        from queryengine_spark.multimodal.wav import decode_pcm_wav, make_pcm_wav

        rng = random.Random(8)
        for p in (b"", b"RIFF", b"RIFFxxxxWAVE", bytes(rng.randrange(256) for _ in range(64))):
            assert decode_pcm_wav(p) is None
        b = bytearray(make_pcm_wav(5))
        i = bytes(b).index(b"fmt ") + 8
        b[i : i + 2] = struct.pack("<H", 3)  # IEEE-float format tag
        assert decode_pcm_wav(bytes(b)) is None


class TestLeakageSafeSplit:
    def test_near_dups_never_straddle_split(self, spark, sf_dir):
        from queryengine_spark.queries.curation import pipeline_leakage_safe_split
        from queryengine_spark.queries.dedup import BAND_SIZE, N_HASHES
        from queryengine_spark.operators.dedup import minhash_lsh_star_edges
        from queryengine_spark.queries.base import t as load

        out = pipeline_leakage_safe_split(spark, sf_dir)
        side = {r["doc_id"]: r["split"] for r in out.collect()}
        comp = {r["doc_id"]: r["component"] for r in out.collect()}
        # every component is entirely on one side
        by_comp: dict[int, set] = {}
        for d, c in comp.items():
            by_comp.setdefault(c, set()).add(side[d])
        assert all(len(s) == 1 for s in by_comp.values())
        # and crucially: every candidate near-dup EDGE stays within a side
        docs = load(spark, sf_dir, "documents")
        edges = minhash_lsh_star_edges(
            docs, "doc_id", "text", n_hashes=N_HASHES, band_size=BAND_SIZE, shingle_n=3
        ).collect()
        for e in edges:
            assert side[e["id_a"]] == side[e["id_b"]], (e["id_a"], e["id_b"])
        # both sides are non-empty (sanity that the fraction works)
        assert {"train", "val"} == set(side.values())


class TestIntradocScrub:
    def test_repeated_phrase_within_doc_removed(self, spark):
        from queryengine_spark.operators.curation import intradoc_dedup_spans

        texts = [
            "alpha beta gamma filler alpha beta gamma end",
            "unique words with no repeats at all",
        ]
        out = {
            r["id"]: r
            for r in intradoc_dedup_spans(_docs(spark, texts), "doc_id", "text", n=3)
            .collect()
        }
        # first occurrence of "alpha beta gamma" kept, second removed
        assert out[0]["cleaned_text"] == "alpha beta gamma filler end"
        assert out[0]["n_removed"] == 3
        assert out[1]["n_removed"] == 0
        assert out[1]["cleaned_text"] == texts[1]

    def test_matches_reference_on_random(self, spark):
        import random

        from queryengine_spark.operators.curation import intradoc_dedup_spans

        rng = random.Random(55)
        vocab = [f"w{j}" for j in range(5)]
        n = 3
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(4, 20)))
            for _ in range(10)
        ]
        expect = {}
        for d, t_ in enumerate(texts):
            toks = t_.split()
            seen = set()
            cov = set()
            for s in range(len(toks) - n + 1):
                g = " ".join(toks[s : s + n])
                if g in seen:
                    cov.update(range(s, s + n))
                else:
                    seen.add(g)
            kept = [tk for i, tk in enumerate(toks) if i not in cov]
            expect[d] = (len(toks), len(toks) - len(kept), " ".join(kept))
        got = {
            r["id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
            for r in intradoc_dedup_spans(_docs(spark, texts), "doc_id", "text", n=n)
            .collect()
        }
        assert got == expect


class TestTrainedClassifier:
    """r7: trained_feature_classifier vs a fully independent
    pure-Python batch-perceptron fit (own tokenizer, own hashing, own
    update loop) — exact integer parity on margins, labels and every
    intermediate weight's effect."""

    @staticmethod
    def _independent_fit(texts, n_buckets, span, tau, iters):
        import hashlib
        from collections import defaultdict

        def md5_4(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

        feats, teach, nf = {}, {}, {}
        for did, text in enumerate(texts):
            toks = text.lower().split()
            fs = toks + [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
            if not fs:
                continue
            c = defaultdict(int)
            for f in fs:
                c[md5_4(f) % n_buckets] += 1
            feats[did] = c
            teach[did] = sum(
                cnt * (md5_4("w:" + str(b)) % (2 * span + 1) - span)
                for b, cnt in c.items()
            )
            nf[did] = sum(c.values())
        y = {i: (1 if teach[i] >= 0 else -1) for i in feats}
        conf = {i for i in feats if abs(teach[i]) >= tau * nf[i]}
        w = defaultdict(int)
        for _t in range(iters):
            mis = [
                i
                for i in conf
                if y[i] * sum(c * w[b] for b, c in feats[i].items()) <= 0
            ]
            for i in mis:
                for b, c in feats[i].items():
                    w[b] += y[i] * c
        out = {}
        for i in feats:
            tm = sum(c * w[b] for b, c in feats[i].items())
            out[i] = (
                nf[i],
                teach[i],
                1 if teach[i] >= 0 else 0,
                1 if i in conf else 0,
                tm,
                1 if tm >= 0 else 0,
            )
        return out

    def test_matches_independent_fit(self, spark):
        from queryengine_spark.operators.curation import trained_feature_classifier

        rng_words = [
            "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
            "theta", "iota", "kappa", "graph", "spark", "query", "engine",
        ]
        texts = [
            " ".join(rng_words[(i * 7 + j * 3) % len(rng_words)]
                     for j in range(5 + i % 9))
            for i in range(40)
        ]
        got = {
            r["id"]: (
                r["n_feats"], r["margin"], r["label"], r["confident"],
                r["trained_margin"], r["trained_label"],
            )
            for r in trained_feature_classifier(
                _docs(spark, texts), "doc_id", "text",
                n_buckets=4096, weight_span=50, tau=10, iters=4,
            ).collect()
        }
        want = self._independent_fit(texts, 4096, 50, 10, 4)
        assert got == want
        # the planted-teacher recovery property: on confident docs the
        # student agrees with the teacher after training
        conf_rows = [k for k, v in want.items() if v[3] == 1]
        assert conf_rows  # the dead zone must not swallow the test set
        agree = sum(1 for k in conf_rows if want[k][2] == want[k][5])
        assert agree / len(conf_rows) >= 0.9
