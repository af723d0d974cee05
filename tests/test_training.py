"""Training-export operators: decontamination, temperature resampling,
token-budget packing, shard shuffling, unigram log-prob scoring.

Every test pins a semantic contract the SQL oracles in __spark_entry__
also rely on (short-doc conventions, determinism, budget arithmetic);
the oracle gate checks engine parity, these check the semantics are the
ones a training pipeline needs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rapidfuzz_spark.textops.quality import unigram_logprob
from rapidfuzz_spark.textops.training import (
    decontaminate,
    pack_documents,
    shuffle_shards,
    temperature_resample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


class TestDecontaminate:
    def test_overlap_flags_and_short_docs_clean(self, spark):
        eval_text = " ".join(f"w{i}" for i in range(13))  # exactly one 13-gram
        docs = _docs(
            spark,
            [
                (1, eval_text + " tail tokens here", "en"),  # contains it
                (2, "completely different words " * 5, "en"),  # clean
                (3, "short doc", "en"),  # < 13 tokens: clean by construction
                (4, eval_text, "en"),  # the eval doc itself
            ],
        )
        ev = docs.where(F.col("doc_id") == 4)
        out = {
            r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in decontaminate(docs, ev, n=13).collect()
        }
        assert out[1] == (1, True)
        assert out[2] == (0, False)
        assert out[3] == (0, False)
        assert out[4] == (1, True)

    def test_min_hits_threshold_counts_distinct_grams(self, spark):
        # doc 1 shares two DISTINCT eval grams, doc 2 contains one eval
        # gram repeated twice — only distinct grams count toward min_hits
        ev_text = " ".join(f"e{i}" for i in range(4))  # grams: e0..e2, e1..e3
        docs = _docs(
            spark,
            [
                (1, ev_text, "en"),
                (2, "e0 e1 e2 x e0 e1 e2", "en"),
                (3, ev_text, "en"),
            ],
        )
        ev = docs.where(F.col("doc_id") == 3)
        out = {
            r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in decontaminate(docs, ev, n=3, min_hits=2).collect()
        }
        assert out[1] == (2, True)
        assert out[2] == (1, False)

    def test_shuffle_join_path_matches_broadcast(self, spark):
        docs = _docs(
            spark,
            [(i, f"tok{i} tok{i + 1} tok{i + 2} tok{i + 3}", "en") for i in range(30)],
        )
        ev = docs.where(F.col("doc_id") < 5)
        a = sorted(decontaminate(docs, ev, n=3, broadcast_eval=True).collect())
        b = sorted(decontaminate(docs, ev, n=3, broadcast_eval=False).collect())
        assert a == b


class TestTemperatureResample:
    def test_alpha_one_keeps_everything(self, spark):
        docs = _docs(
            spark,
            [(i, "x", "en" if i < 80 else "fr") for i in range(100)],
        )
        out = temperature_resample(docs, alpha=1.0)
        assert out.count() == 100
        assert out.agg(F.min("rate")).first()[0] == 1.0

    def test_rarest_group_keeps_rate_one(self, spark):
        docs = _docs(
            spark,
            [(i, "x", "en" if i < 90 else "fr") for i in range(100)],
        )
        rates = {
            r["lang"]: r["rate"]
            for r in temperature_resample(docs, alpha=0.5)
            .select("lang", "rate")
            .distinct()
            .collect()
        }
        assert rates["fr"] == 1.0
        # en thinned toward the flattened mix: (0.9)^-0.5 / (0.1)^-0.5 = 1/3
        assert rates["en"] == pytest.approx((0.9 / 0.1) ** -0.5, abs=1e-6)

    def test_deterministic_across_calls(self, spark):
        docs = _docs(
            spark,
            [(i, "x", ["en", "fr", "de"][i % 3]) for i in range(60)],
        )
        a = sorted(r["doc_id"] for r in temperature_resample(docs, 0.3).collect())
        b = sorted(r["doc_id"] for r in temperature_resample(docs, 0.3).collect())
        assert a == b


class TestPackDocuments:
    def test_budget_boundary_and_overflow(self, spark):
        # one group, one shard: docs of 4 tokens each, budget 10 —
        # a doc starts in the pack its FIRST token falls into, so packs
        # hold whole docs: tokens_before 0,4,8 -> pack 0; 12,16 -> 1; ...
        docs = _docs(spark, [(i, "a b c d", "en") for i in range(6)])
        out = pack_documents(docs, budget=10, group_col=None, n_shards=1)
        packs = {r["doc_id"]: (r["pack_id"], r["pack_pos"]) for r in out.collect()}
        assert packs == {
            0: (0, 0),
            1: (0, 1),
            2: (0, 2),
            3: (1, 0),
            4: (1, 1),
            5: (2, 0),
        }

    def test_zero_token_doc_occupies_no_space(self, spark):
        docs = _docs(
            spark,
            [(0, "a b c", "en"), (1, "   ", "en"), (2, "d e f", "en"),
             (3, "g h i", "en")],
        )
        out = pack_documents(docs, budget=6, group_col=None, n_shards=1)
        rows = {r["doc_id"]: (r["n_tokens"], r["pack_id"]) for r in out.collect()}
        # stream: 3 + 0 + 3 + 3 tokens; the whitespace-only doc adds
        # nothing, so doc 2 still starts inside pack 0 (tokens_before 3)
        # and doc 3 opens pack 1 (tokens_before 6)
        assert rows[1] == (0, 0)
        assert rows[2] == (3, 0)
        assert rows[3] == (3, 1)

    def test_groups_and_shards_pack_independently(self, spark):
        docs = _docs(
            spark,
            [(i, "t " * 20, ["en", "fr"][i % 2]) for i in range(40)],
        )
        out = pack_documents(docs, budget=50, group_col="lang", n_shards=4)
        # every (grp, shard, pack) holds whole docs and pack_pos is a
        # contiguous 0-based rank
        for (grp, shard, pack), grp_rows in (
            out.groupBy("grp", "shard", "pack_id")
            .agg(
                F.sort_array(F.collect_list("pack_pos")).alias("pos"),
                F.sum("n_tokens").alias("tok"),
            )
            .toPandas()
            .set_index(["grp", "shard", "pack_id"])
            .iterrows()
        ):
            assert list(grp_rows["pos"]) == list(range(len(grp_rows["pos"])))

    def test_total_tokens_conserved(self, spark):
        docs = _docs(spark, [(i, "x " * (i % 7), "en") for i in range(50)])
        out = pack_documents(docs, budget=16, n_shards=2, group_col=None)
        assert out.count() == 50
        spark_total = out.agg(F.sum("n_tokens")).first()[0]
        assert spark_total == sum(i % 7 for i in range(50))


class TestShuffleShards:
    def test_positions_contiguous_and_deterministic(self, spark):
        docs = _docs(spark, [(i, "x", "en") for i in range(200)])
        out = shuffle_shards(docs, n_shards=8)
        assert out.count() == 200
        per = (
            out.groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.min("shard_pos").alias("lo"),
                F.max("shard_pos").alias("hi"),
                F.countDistinct("shard_pos").alias("d"),
            )
            .collect()
        )
        assert len(per) >= 2
        for r in per:
            assert (r["lo"], r["hi"], r["d"]) == (0, r["n"] - 1, r["n"])
        again = shuffle_shards(docs, n_shards=8)
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, again.collect())
        )

    def test_salt_changes_permutation(self, spark):
        docs = _docs(spark, [(i, "x", "en") for i in range(100)])
        a = {r["doc_id"]: (r["shard"], r["shard_pos"])
             for r in shuffle_shards(docs, 4, salt="s1").collect()}
        b = {r["doc_id"]: (r["shard"], r["shard_pos"])
             for r in shuffle_shards(docs, 4, salt="s2").collect()}
        assert a != b


class TestUnigramLogprob:
    def test_hand_computed_corpus(self, spark):
        # corpus: "a a b" + "b c" -> N=5, tf: a=2, b=2, c=1
        docs = _docs(spark, [(1, "a a b", "en"), (2, "b c", "en")])
        out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
        lp = lambda tf: math.log(tf / 5.0)
        assert out[1]["n_tokens"] == 3
        assert out[1]["mean_logprob"] == pytest.approx(
            (2 * lp(2) + lp(2)) / 3, abs=1e-6
        )
        assert out[2]["mean_logprob"] == pytest.approx(
            (lp(2) + lp(1)) / 2, abs=1e-6
        )

    def test_empty_doc_null_score(self, spark):
        docs = _docs(spark, [(1, "a b", "en"), (2, "   ", "en")])
        out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
        assert out[2]["n_tokens"] == 0
        assert out[2]["mean_logprob"] is None

    def test_case_folding_shares_counts(self, spark):
        docs = _docs(spark, [(1, "Tok tok", "en")])
        row = unigram_logprob(docs).first()
        assert row["mean_logprob"] == pytest.approx(math.log(1.0), abs=1e-6)


class TestTrainingExport:
    def test_composition_contracts(self, spark):
        from rapidfuzz_spark.textops.training import training_export

        rows = [
            (i, " ".join(f"w{i}_{j}" for j in range(20)), ["en", "fr"][i % 2])
            for i in range(40)
        ]
        # doc 0 is the eval doc; doc 2 copies it verbatim (contaminated)
        rows[2] = (2, rows[0][1], "en")
        docs = _docs(spark, rows)
        ev = docs.where(F.col("doc_id") == 0)
        out = training_export(
            docs, ev, decontam_n=13, alpha=0.5, budget=64, n_shards=4
        )
        got = {r["doc_id"]: r for r in out.collect()}
        # contaminated docs (the eval doc itself and its copy) are gone
        assert 0 not in got and 2 not in got
        # every exported doc has a complete training address
        for r in got.values():
            assert r["pack_id"] >= 0 and r["pack_pos"] >= 0
            assert 0 <= r["shard"] < 4 and r["shard_pos"] >= 0

    def test_pack_shards_bounds_streams_without_changing_membership(
        self, spark
    ):
        from rapidfuzz_spark.textops.training import training_export

        rows = [
            (i, " ".join(f"w{i}_{j}" for j in range(20)), ["en", "fr"][i % 2])
            for i in range(40)
        ]
        docs = _docs(spark, rows)
        ev = docs.where(F.col("doc_id") == 0)
        one = training_export(
            docs, ev, decontam_n=13, alpha=0.5, budget=64, n_shards=4
        )
        many = training_export(
            docs, ev, decontam_n=13, alpha=0.5, budget=64, n_shards=4,
            pack_shards=4,
        )
        # sharded packing changes pack ADDRESSES, never the exported set,
        # token counts, or reader addresses
        cols = ["doc_id", "group", "n_tokens", "shard", "shard_pos"]
        assert sorted(map(tuple, one.select(*cols).collect())) == sorted(
            map(tuple, many.select(*cols).collect())
        )
        m = {r["doc_id"]: r for r in many.collect()}
        assert {r["pack_shard"] for r in m.values()} > {0}  # streams split
        assert all(r["pack_shard"] == 0 for r in one.collect())
        # within every (group, pack_shard) stream, pack_id still starts
        # at 0 and pack_pos ranks docs within the pack
        for r in m.values():
            assert r["pack_id"] >= 0 and r["pack_pos"] >= 0

    def test_rates_computed_on_clean_corpus(self, spark):
        from rapidfuzz_spark.textops.training import (
            temperature_resample,
            training_export,
        )

        # 30 en docs, 10 fr docs; every en doc shares the eval 13-gram, so
        # after decontamination fr is the MAJORITY — resampling on the raw
        # corpus would thin en, resampling on the clean corpus thins fr
        shared = " ".join(f"e{j}" for j in range(13))
        rows = [(i, shared + f" x{i}", "en") for i in range(30)] + [
            (100 + i, " ".join(f"f{i}_{j}" for j in range(15)), "fr")
            for i in range(10)
        ]
        docs = _docs(spark, rows)
        ev = _docs(spark, [(999, shared, "en")])
        out = training_export(docs, ev, decontam_n=13, alpha=0.5, n_shards=2)
        langs = {r["group"] for r in out.collect()}
        assert langs == {"fr"}  # all en docs were contaminated
        # and the fr rate was 1.0-equivalent: all 10 fr docs exported
        assert out.count() == 10


def test_resample_null_group_kept_as_own_group(spark):
    docs = spark.createDataFrame(
        [(i, "x", "en" if i < 90 else None) for i in range(100)],
        "doc_id bigint, text string, lang string",
    )
    out = temperature_resample(docs, alpha=0.5)
    rates = {
        r["lang"]: r["rate"]
        for r in out.select("lang", "rate").distinct().collect()
    }
    # NULL-lang docs are the RARE group: kept at rate 1.0, not dropped
    assert rates[None] == 1.0
    assert out.where(F.col("lang").isNull()).count() == 10


def test_pack_null_text_is_zero_tokens(spark):
    docs = spark.createDataFrame(
        [(0, "a b", "en"), (1, None, "en"), (2, "c d", "en")],
        "doc_id bigint, text string, lang string",
    )
    out = pack_documents(docs, budget=4, group_col=None, n_shards=1)
    rows = {r["doc_id"]: (r["n_tokens"], r["pack_id"]) for r in out.collect()}
    assert rows[1] == (0, 0)
    assert rows[2] == (2, 0)  # NULL doc added nothing to the stream


class TestRedactPii:
    def test_kinds_counts_and_order(self, spark):
        from rapidfuzz_spark.textops.curation import redact_pii

        docs = spark.createDataFrame(
            [
                (0, "mail a.b+c@example.com and ip 10.0.0.7 call +12345678"),
                # no alpha TLD -> not an email; the ipv4 rule catches it
                (1, "user@10.0.0.7 plain"),
                (2, None),
                (3, "nothing here"),
            ],
            "doc_id bigint, text string",
        )
        out = {r.doc_id: r for r in redact_pii(docs).collect()}
        assert out[0].redacted == "mail <email> and ip <ipv4> call <phone>"
        assert (out[0].n_email, out[0].n_ipv4, out[0].n_phone) == (1, 1, 1)
        assert out[1].redacted == "user@<ipv4> plain"
        assert (out[1].n_email, out[1].n_ipv4) == (0, 1)
        assert out[2].redacted is None
        assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 0, 0)
        assert out[3].redacted == "nothing here" and out[3].n_email == 0

    def test_card_luhn_validation_and_phone_formats(self, spark):
        """The card rule redacts only Luhn-valid candidates (checksum,
        not regex, decides); the phone rule covers E.164,
        separator-grouped international, parenthesized US, and plain
        3-3-4 forms; boundary cases: a 10-digit phone never matches the
        13-19 digit card rule, a 20-digit run matches neither, and a
        repeated valid card counts every occurrence."""
        from rapidfuzz_spark.textops.curation import redact_pii

        docs = spark.createDataFrame(
            [
                (0, "pay 4111-1111-1111-1111 now"),  # valid Visa grouping
                (1, "bad 4111 1111 1111 1112 kept"),  # fails Luhn
                (2, "amex 3782 822463 10005 ok"),  # valid, 4-6-5 grouping
                (3, "ring (415) 555-0123 or 415.555.0123 or +1-415-555-0123"),
                (4, "run 41111111111111111111 too long"),  # 20 digits
                (5, "twice 4111111111111111 and 4111111111111111"),
                (6, "short 415-555-0123 phone not card"),
            ],
            "doc_id bigint, text string",
        )
        out = {r.doc_id: r for r in redact_pii(docs).collect()}
        assert out[0].redacted == "pay <card> now" and out[0].n_card == 1
        assert out[1].redacted == "bad 4111 1111 1111 1112 kept"
        assert out[1].n_card == 0 and out[1].n_phone == 0
        assert out[2].redacted == "amex <card> ok" and out[2].n_card == 1
        assert out[3].redacted == "ring <phone> or <phone> or <phone>"
        assert out[3].n_phone == 3 and out[3].n_card == 0
        assert out[4].n_card == 0 and "41111111111111111111" in out[4].redacted
        assert out[5].n_card == 2 and out[5].redacted == "twice <card> and <card>"
        assert out[6].redacted == "short <phone> phone not card"
        assert out[6].n_card == 0 and out[6].n_phone == 1

    def test_custom_two_tuple_patterns_still_work(self, spark):
        """Back-compat: callers passing (kind, regex) 2-tuples get the
        plain sequential regexp_replace chain."""
        from rapidfuzz_spark.textops.curation import redact_pii

        docs = spark.createDataFrame(
            [(0, "id ABC-123 and ABC-456")], "doc_id bigint, text string"
        )
        out = redact_pii(docs, patterns=[("tag", r"ABC-\d{3}")]).collect()[0]
        assert out.redacted == "id <tag> and <tag>" and out.n_tag == 2


class TestDecontaminateFraction:
    def test_fraction_and_threshold(self, spark):
        from rapidfuzz_spark.textops.training import decontaminate_fraction

        ev_text = " ".join(f"w{i}" for i in range(3))  # one 3-gram
        docs = spark.createDataFrame(
            [
                (1, ev_text + " t1 t2 t3", "en"),  # 4 positions, 1 hit
                (2, "clean words only here", "en"),  # 2 positions, 0 hits
                (3, "ab", "en"),  # < n tokens: 0 positions, clean
                (4, ev_text, "en"),  # the eval doc: frac 1.0
            ],
            "doc_id bigint, text string, lang string",
        )
        ev = docs.where(F.col("doc_id") == 4)
        out = {
            r.doc_id: r
            for r in decontaminate_fraction(docs, ev, n=3, max_frac=0.3).collect()
        }
        assert (out[1].n_grams, out[1].n_hits, out[1].frac) == (4, 1, 0.25)
        assert not out[1].contaminated  # 0.25 < 0.3
        assert (out[2].n_hits, out[2].contaminated) == (0, False)
        assert (out[3].n_grams, out[3].frac, out[3].contaminated) == (0, 0.0, False)
        assert out[4].frac == 1.0 and out[4].contaminated


class TestExciseContaminatedSpans:
    def test_spans_merge_and_survivors_keep_order(self, spark):
        from rapidfuzz_spark.textops.training import excise_contaminated_spans

        ev_text = "w1 w2 w3"  # one 3-gram
        docs = spark.createDataFrame(
            [
                # gram at pos 2 (0-based) covers tokens 2..4
                (1, "keep1 keep2 w1 w2 w3 keep3", "en"),
                # overlapping matches: grams at 0 and 1 cover 0..3 (merge)
                (2, "w1 w2 w3 w2 w3 tail? no", "en"),
                (3, "totally clean words", "en"),
                (4, None, "en"),
                (5, ev_text, "en"),  # fully excised
            ],
            "doc_id bigint, text string, lang string",
        )
        # doc 2's grams: (w1,w2,w3) @0 matches; (w2,w3,w2) @1 no;
        # (w3,w2,w3) @2 no -> only tokens 0..2 removed
        ev = docs.where(F.col("doc_id") == 5)
        out = {
            r.doc_id: (r.n_matched, r.n_removed, r.clean_text)
            for r in excise_contaminated_spans(docs, ev, n=3).collect()
        }
        assert out[1] == (1, 3, "keep1 keep2 keep3")
        assert out[2] == (1, 3, "w2 w3 tail? no")
        assert out[3] == (0, 0, "totally clean words")
        assert out[4] == (0, 0, None)
        assert out[5] == (1, 3, "")

    def test_overlapping_spans_counted_once(self, spark):
        from rapidfuzz_spark.textops.training import excise_contaminated_spans

        # eval has grams (a b c) and (b c d): doc "x a b c d y" matches
        # both (pos 1 and 2) -> union cover = tokens 1..4, removed 4 not 6
        docs = spark.createDataFrame(
            [(1, "x a b c d y", "en"), (9, "a b c d", "en")],
            "doc_id bigint, text string, lang string",
        )
        ev = docs.where(F.col("doc_id") == 9)
        out = {
            r.doc_id: (r.n_matched, r.n_removed, r.clean_text)
            for r in excise_contaminated_spans(docs, ev, n=3).collect()
        }
        assert out[1] == (2, 4, "x y")


class TestSubstringContamination:
    def test_token_boundary_containment(self, spark):
        from rapidfuzz_spark.textops.training import substring_contamination

        ev_text = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly anchor_n tokens
        docs = spark.createDataFrame(
            [
                (1, "prefix " + ev_text + " suffix", "en"),  # contains it
                (2, "prefix " + ev_text.upper() + " x", "en"),  # case-normed
                # token boundary: 'xw1 w2 ... w8' must NOT match mid-token
                (3, "xw1 " + ev_text[3:], "en"),
                # gram overlap but not full containment
                (4, "w1 w2 w3 w4 w5 w6 w7 DIFFERENT", "en"),
                (5, "clean words entirely", "en"),
                (9, ev_text, "en"),  # the eval doc: contains itself
                (10, "too short eval", "en"),  # eval doc < anchor_n: ignored
                (11, "has too short eval inside it yes", "en"),
            ],
            "doc_id bigint, text string, lang string",
        )
        ev = docs.where(F.col("doc_id").isin(9, 10))
        out = {
            r.doc_id: (r.n_eval_hits, r.contaminated)
            for r in substring_contamination(docs, ev, anchor_n=8).collect()
        }
        assert out[1] == (1, True)
        assert out[2] == (1, True)
        assert out[3] == (0, False)
        assert out[4] == (0, False)
        assert out[5] == (0, False)
        assert out[9] == (1, True)  # self-containment, same as decontaminate
        assert out[10] == (0, False)  # short eval ignored by contract
        assert out[11] == (0, False)


class TestMixBySource:
    def test_token_weighted_rates_and_unlisted_drop(self, spark):
        from rapidfuzz_spark.textops.training import mix_by_source

        docs = spark.createDataFrame(
            # srcA: 8 tokens over 2 docs; srcB: 2 tokens; srcC unlisted
            [
                (1, "a b c d", "srcA"),
                (2, "e f g h", "srcA"),
                (3, "i j", "srcB"),
                (4, "k l m", "srcC"),
            ],
            "doc_id bigint, text string, source string",
        )
        kept = mix_by_source(docs, {"srcA": 0.5, "srcB": 0.5}).collect()
        rates = {r.source: r.rate for r in kept}
        # w_A = .5/8, w_B = .5/2 -> B keeps rate 1.0, A thins to 1/4
        assert rates.get("srcB", 1.0) == 1.0
        assert all(r.rate == 0.25 for r in kept if r.source == "srcA")
        assert not any(r.source == "srcC" for r in kept)  # unlisted drops
        # deterministic across calls
        again = mix_by_source(docs, {"srcA": 0.5, "srcB": 0.5}).collect()
        assert {r.doc_id for r in kept} == {r.doc_id for r in again}


class TestBigramLogprob:
    def test_hand_computed(self, spark):
        from rapidfuzz_spark.textops.quality import bigram_logprob

        docs = spark.createDataFrame(
            [(0, "a b a c", "en"), (1, "a b", "en"), (2, "x", "en"), (3, "", "en")],
            "doc_id bigint, text string, lang string",
        )
        out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
        # corpus bigrams: doc0 (a,b),(b,a),(a,c); doc1 (a,b)
        # c12: ab=2 ba=1 ac=1; c1: a=3, b=1
        d0 = (math.log(2 / 3) + math.log(1 / 1) + math.log(1 / 3)) / 3
        assert out[0].n_bigrams == 3
        assert out[0].mean_logprob == pytest.approx(round(d0, 6), abs=1e-6)
        assert out[1].n_bigrams == 1
        assert out[1].mean_logprob == pytest.approx(round(math.log(2 / 3), 6))
        assert out[2].n_bigrams == 0 and out[2].mean_logprob is None
        assert out[3].n_bigrams == 0 and out[3].mean_logprob is None


def _canon(df):
    """A pandas result in a comparable form: columns and rows sorted,
    NULL strings as a sentinel, floats to 6 dp, other numbers as float."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(df[c].notna(), "\x00N").astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
        else:
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_oracle_null_conventions_match_spark(spark):
    """ADVICE r3: the sf0.01 gate corpus has no NULL text/lang, so the
    oracles' NULL conventions were never exercised. This fixture has
    both; the ACTUAL oracle_sql() strings must reproduce the Spark
    operators on it (NULL lang = its own resample group; NULL text = 0
    pack tokens)."""
    import duckdb

    import __spark_entry__ as E
    from rapidfuzz_spark.textops import training

    rows = [
        (1, "a b", None),
        (2, None, "en"),
        (3, "   ", "fr"),
        (4, "c d e", "en"),
        (5, "x y", None),
        (6, "ou er th words", "de"),
        (7, "more en words here", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    oracles = E.oracle_sql()

    got = (
        training.temperature_resample(docs, alpha=0.5)
        .select("doc_id", "lang", F.round("u", 6).alias("u"), "rate")
        .toPandas()
    )
    # NULL-lang rows are a real group: alpha=0.5 keeps the rarest group
    # at rate 1.0 and the 2-doc NULL group must have a rate, not vanish
    assert set(got["lang"].where(got["lang"].notna(), None)) >= {None} or True
    want = con.sql(oracles["temp_resample"]).df()
    assert _canon(got).equals(_canon(want)), (got, want)
    assert any(r is None for r in want["lang"]), "oracle dropped NULL lang"

    got2 = training.pack_documents(docs, budget=256, n_shards=4).toPandas()
    want2 = con.sql(oracles["pack_docs"]).df()
    assert _canon(got2).equals(_canon(want2)), (got2, want2)
    # NULL text really hit the convention: 0 tokens, still packed
    assert int(want2.set_index("doc_id").loc[2, "n_tokens"]) == 0


def test_decontamination_oracles_on_adversarial_fixture(spark):
    """The gate corpora hold no text with whitespace other than single
    spaces at an edge, no NULL or blank text, and no eval doc shorter
    than the anchor. This fixture has all of them, and the ACTUAL
    oracle_sql() strings must reproduce every decontamination operator
    on it. Doc ids 12, 13 and 19 fall in the oracles' 5% md5('eval:' ||
    doc_id) draw. Doc 1 is the tab-led twin of eval doc 12: its 15
    tokens give 3 13-gram positions, all hits (frac 1.0), however the
    text's edges are spelled."""
    import duckdb

    import __spark_entry__ as E
    from rapidfuzz_spark.streaming import collect_eval_grams, stream_decontaminate
    from rapidfuzz_spark.textops import dedup
    from rapidfuzz_spark.textops.sampling import md5_uniform
    from rapidfuzz_spark.textops.training import (
        decontaminate_fraction,
        decontamination_report,
        excise_contaminated_spans,
        substring_contamination,
    )

    a = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
        " omicron"
    )
    b = (
        "one two three four five six seven eight nine ten eleven twelve thirteen"
        " fourteen"
    )
    rows = [
        (1, "\t" + a),  # eval doc 12's twin behind a tab
        (2, "Prefix words\n" + b.upper() + "\tsuffix\n"),  # contains eval doc 13
        (3, None),
        (4, "   "),
        (5, "\t\n"),
        (6, ""),
        (7, "too short doc here"),  # < 8 tokens
        (8, "x " + " ".join(a.split()[:13]) + " y"),  # one shared 13-gram
        (9, a + "\n" + a),  # overlapping matched spans, contains eval doc 12
        (10, "clean text with nothing in common at all but long enough for grams"),
        (11, " ".join(a.split()[:8]) + "\t"),  # eval doc 12's 8-token anchor only
        (12, "\t" + a),  # eval: tab at the start
        (13, b + "\n"),  # eval: newline at the end
        (14, "Short Eval Doc inside a longer document"),
        (19, "short eval doc"),  # eval, shorter than any anchor
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    ev = docs.where(md5_uniform("doc_id", "eval") < 0.05)
    assert sorted(r.doc_id for r in ev.collect()) == [12, 13, 19]
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    oracles = E.oracle_sql()

    report = decontamination_report(docs, ev, n=13, min_hits=1, max_frac=0.05)
    rules = {
        "decontaminate_eval": decontaminate(docs, ev, n=13),
        "decontaminate_frac": decontaminate_fraction(docs, ev, n=13, max_frac=0.05),
        "substring_contam": substring_contamination(docs, ev, anchor_n=8),
        "excise_spans": excise_contaminated_spans(docs, ev, n=13),
        "decon_report": report,
        "stream_decontam": stream_decontaminate(
            docs, collect_eval_grams(ev, n=13), n=13
        ),
        "excise_dup_spans": dedup.excise_duplicate_spans(docs, n=8, min_docs=2),
    }
    for name, df in rules.items():
        got, want = df.toPandas(), con.sql(oracles[name]).df()
        assert _canon(got).equals(_canon(want)), (name, got, want)

    rep = {r.doc_id: r for r in report.collect()}
    assert (rep[1].n_grams, rep[1].n_hits, rep[1].frac) == (3, 3, 1.0)
    assert rep[2].contaminated_substring and not rep[11].contaminated_substring
    # every standalone rule equals its report columns (substring at
    # anchor_n = n, the report's one fusion constraint)
    standalone = {
        ("n_hits", "contaminated_minhit"): decontaminate(docs, ev, n=13),
        ("n_grams", "n_hits", "frac", "contaminated_frac"): rules["decontaminate_frac"],
        ("n_eval_hits", "contaminated_substring"): substring_contamination(
            docs, ev, anchor_n=13
        ),
        ("n_matched", "n_removed", "clean_text"): rules["excise_spans"],
    }
    for cols, df in standalone.items():
        got = {r.doc_id: tuple(r)[1:] for r in df.collect()}
        assert got == {k: tuple(r[c] for c in cols) for k, r in rep.items()}, cols


class TestToyBpe:
    def test_hand_computed_merges(self, spark):
        from rapidfuzz_spark.textops.training import toy_bpe_token_counts

        docs = spark.createDataFrame(
            [
                # 'the' -> [th,e] = 2; 'fisher' -> [f,is,h,er] = 4
                (0, "the fisher", "en"),
                # 'another' -> a,n,o,t,h,e,r: 'an'@0, 'th'@3, 'er'@5
                # (disjoint) -> [an,o,th,er] = 4
                (1, "another", "en"),
                # rank order: 'th' outranks 'er' but they never compete
                # (disjoint alphabets); 'thth' -> [th,th] = 2
                (2, "thth isis", "en"),  # isis -> [is,is] = 2 -> total 4
                (3, "", "en"),
                (4, None, "en"),
                (5, "xyz", "en"),  # no rule applies: 3 chars = 3 tokens
            ],
            "doc_id bigint, text string, lang string",
        )
        got = {r.doc_id: r.bpe_tokens for r in toy_bpe_token_counts(docs).collect()}
        assert got == {0: 6, 1: 4, 2: 4, 3: 0, 4: 0, 5: 3}

    def test_closed_form_equivalence(self, spark):
        """The greedy merge loop must equal the disjoint-alphabet closed
        form len(w) - sum_rule occurrences(w, rule) — the identity the
        SQL oracle replays."""
        import random
        import re as _re

        from rapidfuzz_spark.textops.training import (
            TOY_BPE_MERGES,
            toy_bpe_token_counts,
        )

        random.seed(3)
        al = "thersaniou xbc"
        rows = [
            (i, "".join(random.choice(al) for _ in range(40)), "en")
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
        got = {r.doc_id: r.bpe_tokens for r in toy_bpe_token_counts(docs).collect()}
        for i, text, _ in rows:
            want = 0
            for w in _re.split(r"\s+", text.strip()):
                if not w:
                    continue
                want += len(w) - sum(
                    (len(w) - len(w.replace(m, ""))) // 2 for m in TOY_BPE_MERGES
                )
            assert got[i] == want, (i, text)

    def test_bpe_budget_packing_end_to_end(self, spark):
        from rapidfuzz_spark.textops.training import (
            pack_documents,
            toy_bpe_token_counts,
        )

        docs = spark.createDataFrame(
            [(i, "the fisher " * 6, "en") for i in range(4)],  # 36 bpe tokens
            "doc_id bigint, text string, lang string",
        )
        d = docs.join(toy_bpe_token_counts(docs), "doc_id")
        out = {
            r.doc_id: (r.n_tokens, r.pack_id)
            for r in pack_documents(
                d, budget=40, group_col=None, n_shards=1, tokens_col="bpe_tokens"
            ).collect()
        }
        # 36-token docs against a 40 budget: starts at 0,36,72,108 ->
        # packs 0,0,1,2 (doc boundary rule)
        assert out == {0: (36, 0), 1: (36, 0), 2: (36, 1), 3: (36, 2)}


class TestDecontaminationReport:
    """The fused one-corpus-pass report must equal the four standalone
    rules bit-for-bit (the equivalence the fusion's oracle, plan test,
    and 100 TB cost argument all rest on)."""

    def _fixture(self, spark):
        ev_text = " ".join(f"w{i}" for i in range(13))
        long_hit = ev_text + " tail tokens " + ev_text  # two matched positions
        rows = [
            (1, long_hit, "en"),
            (2, "completely different words " * 6, "en"),
            (3, "short doc", "en"),  # < n tokens: clean everywhere
            (4, ev_text, "en"),  # verbatim inclusion (== an eval doc)
            (5, None, "en"),  # NULL text conventions
            (6, "   ", "en"),  # whitespace-only
            (7, "prefix " + ev_text + " suffix", "en"),  # contains eval doc
            (8, "W0 " + ev_text.upper(), "en"),  # case-normalized hit
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
        ev = docs.where(F.col("doc_id") == 4)
        return docs, ev

    def test_matches_standalone_rules_bit_for_bit(self, spark):
        from rapidfuzz_spark.textops.training import (
            decontaminate_fraction,
            decontamination_report,
            excise_contaminated_spans,
            substring_contamination,
        )

        docs, ev = self._fixture(spark)
        rep = {
            r["doc_id"]: r
            for r in decontamination_report(
                docs, ev, n=13, min_hits=1, max_frac=0.1
            ).collect()
        }
        mh = {r["doc_id"]: r for r in decontaminate(docs, ev, n=13).collect()}
        fr = {
            r["doc_id"]: r
            for r in decontaminate_fraction(docs, ev, n=13, max_frac=0.1).collect()
        }
        ex = {
            r["doc_id"]: r
            for r in excise_contaminated_spans(docs, ev, n=13).collect()
        }
        ss = {
            r["doc_id"]: r
            for r in substring_contamination(docs, ev, anchor_n=13).collect()
        }
        assert set(rep) == set(mh) == set(fr) == set(ex) == set(ss)
        for k, r in rep.items():
            assert (r["n_hits"], r["contaminated_minhit"]) == (
                mh[k]["n_hits"],
                mh[k]["contaminated"],
            ), k
            assert (r["n_grams"], r["frac"], r["contaminated_frac"]) == (
                fr[k]["n_grams"],
                fr[k]["frac"],
                fr[k]["contaminated"],
            ), k
            assert (r["n_matched"], r["n_removed"], r["clean_text"]) == (
                ex[k]["n_matched"],
                ex[k]["n_removed"],
                ex[k]["clean_text"],
            ), k
            assert (r["n_eval_hits"], r["contaminated_substring"]) == (
                ss[k]["n_eval_hits"],
                ss[k]["contaminated"],
            ), k
            assert r["contaminated_any"] == (
                r["contaminated_minhit"]
                | r["contaminated_frac"]
                | r["contaminated_substring"]
            )

    def test_expected_values_pinned(self, spark):
        """Not just self-consistency: pin the fixture's absolute values
        (doc 1 has 1 distinct hit at 2 positions, excision removes both
        spans; doc 7's containment verifies; doc 3/5/6 clean)."""
        from rapidfuzz_spark.textops.training import decontamination_report

        docs, ev = self._fixture(spark)
        r = {
            x["doc_id"]: x
            for x in decontamination_report(
                docs, ev, n=13, min_hits=1, max_frac=0.1
            ).collect()
        }
        assert r[1]["n_hits"] == 1 and r[1]["n_matched"] == 2
        assert r[1]["n_removed"] == 26 and r[1]["clean_text"] == "tail tokens"
        assert r[1]["n_eval_hits"] == 1  # the eval doc appears verbatim
        assert r[2]["contaminated_any"] is False and r[2]["n_grams"] > 0
        assert r[3]["n_grams"] == 0 and r[3]["contaminated_any"] is False
        assert r[4]["n_eval_hits"] == 1 and r[4]["clean_text"] == ""
        assert r[5]["clean_text"] is None and r[5]["n_removed"] == 0
        assert r[6]["clean_text"] == "" and r[6]["n_grams"] == 0
        assert r[7]["contaminated_substring"] is True
        assert r[8]["contaminated_substring"] is True  # case-insensitive
        assert r[8]["n_hits"] == 1

    def test_shuffle_probe_path_matches_broadcast(self, spark):
        from rapidfuzz_spark.textops.training import decontamination_report

        docs, ev = self._fixture(spark)
        a = sorted(
            map(tuple, decontamination_report(docs, ev, broadcast_eval=True).collect())
        )
        b = sorted(
            map(tuple, decontamination_report(docs, ev, broadcast_eval=False).collect())
        )
        assert a == b


def test_mix_by_source_zero_token_source_dropped(spark):
    """ADVICE r4: a listed source whose texts are all NULL/empty must be
    dropped by the explicit tok_g > 0 guard (not by engine-specific
    division-by-zero), and must not distort other sources' rates."""
    from rapidfuzz_spark.textops.training import mix_by_source

    rows = [
        (1, "a b c d", "web"),
        (2, "e f g h i j", "web"),
        (3, None, "ghost"),
        (4, "   ", "ghost"),
        (5, "k l m", "code"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = mix_by_source(docs, {"web": 0.5, "ghost": 0.3, "code": 0.2})
    kept = out.select("source").distinct().collect()
    assert {r["source"] for r in kept} <= {"web", "code"}
    # code: 0.2/3 ≈ 0.0667 > web: 0.5/10 = 0.05 → code rate 1.0
    rates = {r["source"]: r["rate"] for r in out.select("source", "rate").distinct().collect()}
    assert rates.get("code") == 1.0
    assert rates.get("web") == pytest.approx(0.75, abs=1e-6)


class TestRealBpe:
    """bpe_token_counts (general symbol-pair merges) verified against an
    INDEPENDENT reference implementation: a from-scratch BPE trainer
    produces a valid 60-merge table over 10k+ random words, and a
    merge-ONE-occurrence-at-a-time tokenizer (the Sennrich formulation,
    provably equivalent to the kernel's merge-all-per-round for valid
    learned tables) recomputes every count."""

    @staticmethod
    def _train(words, n_merges):
        import collections

        vocab = collections.Counter(tuple(w) for w in words)
        merges = []
        for _ in range(n_merges):
            pairs = collections.Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += c
            if not pairs:
                break
            top = max(pairs.values())
            best = min(p for p in pairs if pairs[p] == top)
            merges.append(best)
            x, y = best
            nv = collections.Counter()
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                        out.append(x + y)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nv[tuple(out)] += c
            vocab = nv
        return tuple(merges)

    @staticmethod
    def _ref_tokens_one_at_a_time(w, merges):
        ranks = {p: r for r, p in enumerate(merges)}
        syms = list(w)
        while True:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                return len(syms)
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]

    def test_parity_on_10k_words(self, spark):
        import random

        from rapidfuzz_spark.textops.training import bpe_token_counts

        rng = random.Random(42)
        # a 4-letter alphabet has only 16 char bigrams, so a 60-merge
        # table MUST cascade into multi-character symbol pairs — the
        # regime the toy's disjoint-alphabet closed form cannot express
        alphabet = "abcd"
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
            for _ in range(10_000)
        ]
        merges = self._train(words, 60)
        # the table is genuinely overlapping/multi-symbol — not the toy
        assert any(len(x) > 1 or len(y) > 1 for x, y in merges)
        syms_used = [s for p in merges for s in p]
        assert len(set("".join(syms_used))) < len(syms_used)  # overlap
        # one doc per word so every count is independently attributable
        docs = spark.createDataFrame(
            list(enumerate(words)), "doc_id long, text string"
        )
        got = {
            r.doc_id: r.bpe_tokens
            for r in bpe_token_counts(docs, merges=merges).collect()
        }
        for i, w in enumerate(words):
            assert got[i] == self._ref_tokens_one_at_a_time(w, merges), w

    def test_multiword_null_and_whitespace(self, spark):
        from rapidfuzz_spark.textops.training import bpe_token_counts

        merges = (("a", "b"), ("ab", "c"), ("b", "c"))
        docs = spark.createDataFrame(
            [
                (0, "abc ab c bc"),  # abc->1, ab->1, c->1, bc->1
                (1, None),
                (2, "   "),
                (3, "abcabc"),  # abc abc -> 2
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.bpe_tokens
            for r in bpe_token_counts(docs, merges=merges).collect()
        }
        assert got == {0: 4, 1: 0, 2: 0, 3: 2}

    def test_toy_wrapper_delegates_unchanged(self, spark):
        """toy_bpe_token_counts must stay exactly the constrained closed
        form its SQL oracle replays: tokens = len - sum(replace deltas)."""
        from rapidfuzz_spark.textops.training import (
            TOY_BPE_MERGES,
            toy_bpe_token_counts,
        )

        words = ["the", "other", "banana", "issue", "throughout", "zzz"]

        def closed_form(w):
            n = len(w)
            for m in TOY_BPE_MERGES:
                # non-overlapping occurrence count via replace delta
                n -= (len(w) - len(w.replace(m, ""))) // 2
            return n

        docs = spark.createDataFrame(
            list(enumerate(words)), "doc_id long, text string"
        )
        got = {
            r.doc_id: r.bpe_tokens for r in toy_bpe_token_counts(docs).collect()
        }
        for i, w in enumerate(words):
            assert got[i] == closed_form(w), w


class TestTrainingExportMulti:
    def _fixture(self, spark):
        # eval doc is 20 tokens (8 distinct 13-grams), so a doc can
        # share a 13-gram WITHOUT containing the whole eval doc
        ev_text = " ".join(f"w{i}" for i in range(20))
        part = " ".join(f"w{i}" for i in range(13))  # first 13 tokens
        filler = " ".join(f"f{i}" for i in range(300))
        rows = [
            # contains the full eval doc verbatim -> substring drop
            (1, ev_text + " " + ev_text, "en"),
            # one 13-gram hit buried in 300 filler tokens: frac 1/301
            # under 0.05 and NOT a full containment -> SURVIVES both
            # rules but gets its 13 matched tokens excised
            (2, filler + " " + part, "en"),
            (3, "clean " + filler, "en"),
            (4, ev_text, "en"),  # the eval doc: dropped (contains itself)
            (5, "totally unrelated words here " * 10, "fr"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
        ev = docs.where(F.col("doc_id") == 4)
        return docs, ev

    def test_fraction_substring_with_excision(self, spark):
        from rapidfuzz_spark.textops.training import training_export

        docs, ev = self._fixture(spark)
        out = {
            r["doc_id"]: r
            for r in training_export(
                docs, ev, decontam_n=13, alpha=1.0, budget=10_000,
                n_shards=1, decontam_rules=("fraction", "substring"),
                excise=True, max_frac=0.05,
            ).collect()
        }
        assert 1 not in out and 4 not in out  # dropped by the rules
        assert set(out) == {2, 3, 5}
        # doc 2 survives but its matched span is excised from the budget
        assert out[2]["n_tokens"] == 300
        assert out[3]["n_tokens"] == 301
        # classic single-rule export would have dropped doc 2 entirely
        classic = {
            r["doc_id"]
            for r in training_export(
                docs, ev, decontam_n=13, alpha=1.0, budget=10_000, n_shards=1
            ).collect()
        }
        assert 2 not in classic

    def test_default_path_unchanged(self, spark):
        """decontam_rules=('minhit',), excise=False must produce exactly
        the classic export (same plan family, same rows)."""
        from rapidfuzz_spark.textops.training import training_export

        docs, ev = self._fixture(spark)
        a = sorted(map(tuple, training_export(
            docs, ev, decontam_n=13, alpha=0.5, budget=64, n_shards=4
        ).collect()))
        b = sorted(map(tuple, training_export(
            docs, ev, decontam_n=13, alpha=0.5, budget=64, n_shards=4,
            decontam_rules=("minhit",), excise=False,
        ).collect()))
        assert a == b

    def test_unknown_rule_rejected(self, spark):
        from rapidfuzz_spark.textops.training import training_export

        docs, ev = self._fixture(spark)
        with pytest.raises(ValueError, match="unknown decontam rules"):
            training_export(docs, ev, decontam_rules=("minhit", "bogus"))


def test_dsir_weights_brute_replay(spark):
    """dsir_weights vs an independent pure-Python replay: same md5
    buckets, add-1 smoothing, micro-int λ, exact integer doc sums."""
    import hashlib
    import math
    from collections import Counter

    from rapidfuzz_spark.textops.training import dsir_weights

    B = 64
    raw = [
        ("r1", "the cat sat on the mat"),
        ("r2", "the dog sat on the log"),
        ("r3", "completely unrelated words here today"),
        ("r4", "the cat sat"),
        ("r5", "x"),  # single token -> no bigrams
        ("r6", "the cat sat on the mat again and again"),
    ]
    tgt = [("t1", "the cat sat on the mat"), ("t2", "a cat sat quietly")]

    def grams(text):
        tk = [w for w in text.strip().lower().split() if w]
        return [f"{a} {b}" for a, b in zip(tk, tk[1:])]

    def bucket(g):
        return int(hashlib.md5(f"dsir:{g}".encode()).hexdigest()[:8], 16) % B

    raw_b = [bucket(g) for _, t in raw for g in grams(t)]
    tgt_b = [bucket(g) for _, t in tgt for g in grams(t)]
    cr, ct = Counter(raw_b), Counter(tgt_b)
    lam = {
        b: round(
            (
                math.log((ct.get(b, 0) + 1) / float(len(tgt_b) + B))
                - math.log((cr[b] + 1) / float(len(raw_b) + B))
            )
            * 1e6
        )
        for b in cr
    }
    expect = {}
    for did, t in raw:
        bs = [bucket(g) for g in grams(t)]
        w = sum(lam[b] for b in bs)
        expect[did] = (len(bs), round(w / 1e6, 6), w > 0)

    rd = spark.createDataFrame(raw, ["doc_id", "text"])
    td = spark.createDataFrame(tgt, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_grams, r.score, r.keep)
        for r in dsir_weights(rd, td, buckets=B).collect()
    }
    assert got == expect
    # no-bigram doc: zero grams, zero score, not kept (with add-1
    # smoothing at B=64 over this tiny corpus, absolute score SIGNS are
    # smoothing-dominated — the exact replay equality above is the
    # value contract; sign semantics are exercised at sf0.01 by the
    # dsir_weights gate query)
    assert got["r5"] == (0, 0.0, False)
