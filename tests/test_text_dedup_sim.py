from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cehrbert_data_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from cehrbert_data_spark.operators.similarity import (
    cosine_topk,
    int_dot,
    lsh_candidate_pairs,
    quantize,
)
from cehrbert_data_spark.operators.text import fingerprint, quality_features


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over a sleepy dog"),  # near dup
        (4, "completely different text about spark engines"),
    ]
    return spark.createDataFrame(rows, "doc_id: int, text: string")


def test_exact_dedup(spark):
    out = exact_dedup_groups(_docs(spark), "doc_id", "text").collect()
    by_n = sorted((r["n_docs"], r["keep_id"]) for r in out)
    assert by_n == [(1, 3), (1, 4), (2, 1)]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), "doc_id", "text", k=3, threshold=0.2).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert not any(4 in p for p in got)


def test_minhash_lsh_exact_dup_collides_all_bands(spark):
    pairs = minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", k=3, num_hashes=16, band_size=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["n_bands"] for r in pairs}
    assert got[(1, 2)] == 8  # identical docs collide in every band


@pytest.mark.slow
def test_minhash_lsh_max_bucket_cap(spark):
    import pytest

    # six EXACT duplicates: identical signatures, so every band puts all
    # six in one bucket of size 6; a separate near-dup pair lands in
    # buckets of size 2. With max_bucket_size=5 the size-6 buckets are
    # excluded (templated-spam cap) while the small pair survives intact.
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    other = "one two three four five six seven eight nine ten " * 4
    rows = [(i, base) for i in range(1, 7)] + [
        (10, other),
        (11, other + " extra"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    uncapped = {
        (r["id_a"], r["id_b"]): r["n_bands"]
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert uncapped[(1, 2)] == 8 and (10, 11) in uncapped

    capped = {
        (r["id_a"], r["id_b"]): r["n_bands"]
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", max_bucket_size=5
        ).collect()
    }
    # no pair among the six spam duplicates survives; the small-bucket
    # pair is byte-identical to the uncapped run
    assert all(a >= 10 for a, _ in capped)
    assert capped[(10, 11)] == uncapped[(10, 11)]
    # cap larger than every bucket == exact semantics
    assert (
        {
            (r["id_a"], r["id_b"]): r["n_bands"]
            for r in minhash_lsh_pairs(
                docs, "doc_id", "text", max_bucket_size=6
            ).collect()
        }
        == uncapped
    )
    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, "doc_id", "text", max_bucket_size=1)


def test_simhash_identical_and_stable(spark):
    out = {r["id"]: r["simhash"] for r in simhash(_docs(spark), "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert out[1] != out[4]
    again = {r["id"]: r["simhash"] for r in simhash(_docs(spark), "doc_id", "text").collect()}
    assert out == again  # deterministic (md5-derived, seed-free)


def test_remove_duplicated_ngrams(spark):
    import pytest

    from cehrbert_data_spark.operators.dedup import remove_duplicated_ngrams

    docs = spark.createDataFrame(
        [
            # "the quick brown fox jumps" is a 5-gram shared by docs 1 and 2
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "something else entirely here the quick brown fox jumps again and again"),
            (3, "unique words only appear once nowhere repeated"),
            (4, "tiny doc"),  # shorter than n: no n-grams, fully kept
            # within-doc repetition alone crosses the occurrence threshold
            (5, "a b c d e X a b c d e"),
        ],
        "doc_id: long, text: string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["text"])
        for r in remove_duplicated_ngrams(
            docs, "doc_id", "text", n=5, min_count=2
        ).collect()
    }
    assert out[1] == (10, 5, "over the lazy dog tonight")
    assert out[2] == (12, 7, "something else entirely here again and again")
    assert out[3] == (7, 7, "unique words only appear once nowhere repeated")
    assert out[4] == (2, 2, "tiny doc")
    # doc 5: "a b c d e" occurs twice within the doc -> both spans removed,
    # only the separator survives
    assert out[5] == (11, 1, "X")
    for bad in (dict(n=1), dict(min_count=1)):
        with pytest.raises(ValueError):
            remove_duplicated_ngrams(docs, "doc_id", "text", **bad)


@pytest.mark.slow
def test_remove_duplicated_ngrams_durable_barrier(spark, tmp_path):
    """barrier_path spills the gram set to a durable parquet round-trip
    instead of executor storage — identical output, files on disk."""
    import os

    from cehrbert_data_spark.operators.dedup import remove_duplicated_ngrams

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "something else entirely here the quick brown fox jumps again and again"),
            (3, "a b c d e X a b c d e"),
        ],
        "doc_id: long, text: string",
    )
    gram_dir = str(tmp_path / "grams")
    durable = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["text"])
        for r in remove_duplicated_ngrams(
            docs, "doc_id", "text", n=5, min_count=2, barrier_path=gram_dir
        ).collect()
    }
    in_memory = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["text"])
        for r in remove_duplicated_ngrams(
            docs, "doc_id", "text", n=5, min_count=2
        ).collect()
    }
    assert durable == in_memory
    assert any(f.endswith(".parquet") for f in os.listdir(gram_dir))


def test_remove_duplicated_ngrams_id_col_named_id(spark):
    """Round-7 advice: a caller whose id_col is literally "id" must not have
    its join key swallowed by the internal helper-key drop."""
    from cehrbert_data_spark.operators.dedup import remove_duplicated_ngrams

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "something else entirely here the quick brown fox jumps again and again"),
        ],
        "id: long, text: string",
    )
    out = {
        r["id"]: (r["n_tokens"], r["n_kept"], r["text"])
        for r in remove_duplicated_ngrams(docs, "id", "text", n=5, min_count=2).collect()
    }
    assert out[1] == (10, 5, "over the lazy dog tonight")
    assert out[2] == (12, 7, "something else entirely here again and again")


def test_hashed_classifier_score_matches_bruteforce(spark):
    import hashlib
    import math

    from cehrbert_data_spark.operators.text import hashed_classifier_score

    docs = spark.createDataFrame(
        [(1, "good clean prose here"), (2, "spam spam spam"), (3, "  ")],
        "doc_id: long, text: string",
    )
    n_buckets = 64
    wrows = [(b, (b * 37) % 41 - 20) for b in range(n_buckets)]
    weights = spark.createDataFrame(wrows, "bucket: long, w_milli: long")
    got = {
        r["doc_id"]: (r["n_tokens"], r["score_milli"], r["logit"], r["prob"])
        for r in hashed_classifier_score(
            docs, "doc_id", "text", weights, n_buckets=n_buckets
        ).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % n_buckets

    wmap = dict(wrows)
    for doc_id, text in [(1, "good clean prose here"), (2, "spam spam spam")]:
        toks = text.strip().split()
        score = sum(wmap[bucket(t)] for t in toks)
        logit = (0.0 + score / len(toks)) / 1000.0
        assert got[doc_id][0] == len(toks)
        assert got[doc_id][1] == score
        assert got[doc_id][2] == logit
        assert abs(got[doc_id][3] - 1 / (1 + math.exp(-logit))) < 1e-12
    # doc 3 trims to "" -> split yields [""], md5("") still buckets: one
    # token scored; what matters is the doc is present with n_tokens == 1
    assert got[3][0] == 1


def test_fingerprint_deterministic(spark):
    df = _docs(spark).select("doc_id", fingerprint(F.col("text")).alias("fp"))
    out = {r["doc_id"]: r["fp"] for r in df.collect()}
    assert out[1] == out[2] and out[1] != out[4]


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "the the the")], "doc_id: int, text: string")
    r = quality_features(df).collect()[0]
    assert r["q_n_words"] == 3
    assert r["q_distinct_ratio"] == 1 / 3
    assert r["q_stopword_ratio"] == 1.0


def test_int_dot_and_cosine_topk(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id: int, embedding: array<float>",
    )
    d = (
        df.select(quantize("embedding").alias("q"))
        .select(int_dot("q", "q").alias("n2"))
        .collect()
    )
    assert d[0]["n2"] == 1000 * 1000
    top = cosine_topk(df, df.where(F.col("vec_id") == 0), "vec_id", "embedding", k=1).collect()
    assert [(r["q_id"], r["n_id"], r["rank"]) for r in top] == [(0, 1, 1)]


def test_lsh_candidate_pairs_self_consistent(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-5.0, 1.0, -2.0])],
        "vec_id: int, embedding: array<float>",
    )
    pairs = lsh_candidate_pairs(df, "vec_id", "embedding").collect()
    assert ((0, 1) in {(r["id_a"], r["id_b"]) for r in pairs})


@pytest.mark.slow
def test_lsh_candidate_pairs_max_bucket_cap(spark):
    # five identical vectors share every bucket (size 5); one distinct pair
    # of similar vectors lands in buckets of size 2. Cap 4 kills the clone
    # cluster's pairs, keeps the small pair.
    rows = [(i, [1.0, 2.0, 3.0]) for i in range(5)] + [
        (10, [-5.0, 1.0, -2.0]),
        (11, [-5.1, 1.1, -2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: int, embedding: array<float>")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(df, "vec_id", "embedding").collect()
    }
    assert (0, 1) in uncapped and (10, 11) in uncapped
    capped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            df, "vec_id", "embedding", max_bucket_size=4
        ).collect()
    }
    assert all(a >= 10 for a, _ in capped) and (10, 11) in capped


@pytest.mark.slow
def test_ivf_assign_and_topk(spark):
    import math

    from cehrbert_data_spark.operators.similarity import ivf_assign, ivf_topk

    # two well-separated clusters around the two centroid-eligible ids (0, 4)
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.8, 0.2]),
        (4, [0.0, 1.0]), (5, [0.1, 0.9]), (6, [0.2, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    assign = ivf_assign(df, "vec_id", "embedding", centroid_mod=4, nprobe=1)
    got = {r["id"]: r["cid"] for r in assign.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 4: 4, 5: 4, 6: 4}

    topk = ivf_topk(df, "vec_id", "embedding", k=2, centroid_mod=4, nprobe=1)
    by_q = {}
    for r in topk.collect():
        by_q.setdefault(r["q_id"], []).append(r["n_id"])
    # neighbors come from the same inverted list only (nprobe=1)
    assert set(by_q[1]) == {0, 2}
    assert set(by_q[5]) == {4, 6}
    cos = {(r["q_id"], r["n_id"]): r["cosine"] for r in topk.collect()}
    assert math.isclose(cos[(1, 0)], 0.9 / math.hypot(0.9, 0.1), rel_tol=1e-3)


@pytest.mark.slow
def test_connected_components_transitive(spark):
    from cehrbert_data_spark.operators.dedup import connected_components, dedup_keepers

    # chain 1-2-3 (no direct 1-3 pair), separate pair 10-11, isolated 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: long, id_b: long"
    )
    comps = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id: long")
    keepers = {r["id"]: r["keeper"] for r in dedup_keepers(docs, pairs).collect()}
    assert keepers == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


@pytest.mark.slow
def test_connected_components_long_chain(spark):
    from cehrbert_data_spark.operators.dedup import connected_components

    # a 12-node path: worst case for label propagation (diameter 11)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a: long, id_b: long"
    )
    comps = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert set(comps.values()) == {0} and len(comps) == 12


def test_clean_text_scrubs(spark):
    from cehrbert_data_spark.operators.text import clean_text

    rows = [
        (1, "see https://example.com/x?q=1 and mail bob.smith+a@ex-ample.co.uk now"),
        (2, "tabs\tand\x00control\x1fchars   collapse"),
        (3, "  already clean  "),
    ]
    df = spark.createDataFrame(rows, "id: int, text: string")
    got = {r["id"]: r["c"] for r in df.select("id", clean_text(F.col("text")).alias("c")).collect()}
    assert got[1] == "see and mail now"
    assert got[2] == "tabs and control chars collapse"
    assert got[3] == "already clean"


def test_shingles_short_docs_empty(spark):
    # sequence(1, 0) infers a negative step ([1, 0]) — short docs must NOT
    # manufacture shingles, in either the HOF or the explode-index path
    from pyspark.sql import functions as F

    from cehrbert_data_spark.operators.dedup import doc_shingles
    from cehrbert_data_spark.operators.text import shingles, words

    df = spark.createDataFrame(
        [(1, "one two"), (2, "a"), (3, ""), (4, "one two three"), (5, "w x y z")],
        "doc_id: long, text: string",
    )
    hof = df.select(
        "doc_id", F.size(shingles(words(F.col("text")), 3)).alias("n")
    ).collect()
    assert {r["doc_id"]: r["n"] for r in hof} == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}

    for distinct in (True, False):
        got = doc_shingles(df, "doc_id", "text", 3, distinct=distinct)
        counts = {r["id"]: r["n"] for r in got.groupBy("id").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert counts == {4: 1, 5: 2}, counts


def test_repetition_features_hand_computed(spark):
    from cehrbert_data_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [
            # 2-grams: "a b","b a","a b","b a","a b" -> 5 total, top "a b"=3,
            # every occurrence's gram repeats -> dup frac 1.0
            (1, "a b a b a b"),
            # "x y","y z","z w" -> 3 total, all unique
            (2, "x y z w"),
            # one word -> no 2-grams -> row drops out
            (3, "solo"),
        ],
        "doc_id: long, text: string",
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_features(docs, "doc_id", "text", k=2).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1]["rep_n_ngrams"] == 5
    assert rows[1]["rep_top_ngram_frac"] == 3 / 5
    assert rows[1]["rep_dup_ngram_frac"] == 1.0
    assert rows[2]["rep_n_ngrams"] == 3
    assert rows[2]["rep_top_ngram_frac"] == 1 / 3
    assert rows[2]["rep_dup_ngram_frac"] == 0.0


def test_pii_counts_and_scrub(spark):
    from pyspark.sql import functions as F

    from cehrbert_data_spark.operators.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org or call 212-555-0199."),
            (2, "ssn 123-45-6789 served from 10.0.255.7 twice: 10.0.255.7"),
            (3, "no pii here, just 1234 and a-b-c and v1.2.3.4.5"),
        ],
        "id: long, text: string",
    )
    t = F.col("text")
    counts = pii_counts(t)
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            counts["email"].alias("e"),
            counts["phone"].alias("p"),
            counts["ssn"].alias("s"),
            counts["ipv4"].alias("i"),
            scrub_pii(t).alias("scrubbed"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["p"], out[1]["s"], out[1]["i"]) == (1, 1, 0, 0)
    assert "<EMAIL>" in out[1]["scrubbed"] and "<PHONE>" in out[1]["scrubbed"]
    assert "212-555" not in out[1]["scrubbed"]
    assert (out[2]["e"], out[2]["p"], out[2]["s"], out[2]["i"]) == (0, 0, 1, 2)
    assert out[2]["scrubbed"].count("<IPV4>") == 2 and "<SSN>" in out[2]["scrubbed"]
    # v1.2.3.4.5: no \b between 'v' and '1' (both word chars), but '.' IS a
    # boundary, so the leftmost dotted-quad match is "2.3.4.5" — a known
    # limitation of \b-delimited IPv4 regexes, identical in both engines.
    assert (out[3]["e"], out[3]["p"], out[3]["s"], out[3]["i"]) == (0, 0, 0, 1)
    assert out[3]["scrubbed"] == "no pii here, just 1234 and a-b-c and v1.<IPV4>"


def test_minhash_dedup_against_matches_self_join_restriction(spark):
    # batch-vs-corpus candidates == the self-join pairs restricted to
    # (odd new, even corpus), modulo the self-join's id_a < id_b ordering
    from cehrbert_data_spark.operators.dedup import (
        minhash_dedup_against,
        minhash_lsh_pairs,
    )

    texts = ["the quick brown fox jumps over the lazy dog and runs away fast"]
    rows = [(i, texts[0] if i % 5 else texts[0] + " extra tail words here") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    new = docs.where("doc_id % 2 = 1")
    corpus = docs.where("doc_id % 2 = 0")

    got = {
        (r["new_id"], r["corpus_id"]): r["n_bands"]
        for r in minhash_dedup_against(new, corpus, "doc_id", "text").collect()
    }
    self_pairs = {}
    for r in minhash_lsh_pairs(docs, "doc_id", "text").collect():
        for n, c in ((r["id_a"], r["id_b"]), (r["id_b"], r["id_a"])):
            if n % 2 == 1 and c % 2 == 0:
                self_pairs[(n, c)] = r["n_bands"]
    assert got == self_pairs and got  # nonempty and identical


def test_semantic_dedup_marks_in_cluster_near_dups(spark):
    from cehrbert_data_spark.operators.dedup import semantic_dedup

    # centroid_mod=4 -> ids 0,4,8 are centroids; vectors 0..3 identical
    # direction (dups of 0 inside its list), 4..7 orthogonal directions
    rows = []
    for i in range(4):
        rows.append((i, [1.0, 0.0, 0.0]))
    dirs = [[0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [0.0, -1.0, 0.0], [0.0, 0.0, -1.0]]
    for i, v in enumerate(dirs):
        rows.append((4 + i, v))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = {r["id"]: r for r in semantic_dedup(
        df, "vec_id", "embedding", threshold=0.9, centroid_mod=4
    ).collect()}
    assert len(out) == 8
    # 1,2,3 are dups anchored to 0; 0 keeps
    assert not out[0]["is_dup"] and out[0]["dup_of"] is None
    for i in (1, 2, 3):
        assert out[i]["is_dup"] and out[i]["dup_of"] == 0, out[i]
    # orthogonal vectors never reach the 0.9 threshold
    for i in (5, 6, 7):
        assert not out[i]["is_dup"], out[i]


def test_contamination_scores_containment(spark):
    from cehrbert_data_spark.operators.dedup import contamination_scores

    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id: int, text: string"
    )
    corpus = spark.createDataFrame(
        [
            # embeds a full eval 3-gram run -> high containment
            (1, "alpha beta gamma delta zeta eta"),
            # no overlap at all
            (2, "one two three four five six"),
        ],
        "doc_id: int, text: string",
    )
    out = {r["id"]: r for r in contamination_scores(
        corpus, eval_df, "doc_id", "text", k=3, threshold=0.5
    ).collect()}
    # doc 1: shingles {abg, bgd, gdz, dze}; eval has {abg, bgd, gde}
    assert out[1]["n_ngrams"] == 4 and out[1]["n_hits"] == 2
    assert abs(out[1]["contam_ratio"] - 0.5) < 1e-12 and out[1]["flagged"]
    assert out[2]["n_hits"] == 0 and not out[2]["flagged"]


def test_dup_ngram_rates_corpus_level(spark):
    from cehrbert_data_spark.operators.dedup import dup_ngram_rates

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # shingles: "a b c", "b c d"
            (2, "a b c x"),          # shares "a b c" with doc 1
            (3, "p q r s"),          # unique
        ],
        "doc_id: int, text: string",
    )
    out = {r["id"]: r for r in dup_ngram_rates(docs, "doc_id", "text", k=3).collect()}
    assert out[1]["n_ngrams"] == 2 and out[1]["n_dup"] == 1 and out[1]["max_df"] == 2
    assert abs(out[1]["dup_rate"] - 0.5) < 1e-12
    assert out[2]["n_dup"] == 1
    assert out[3]["n_dup"] == 0 and out[3]["max_df"] == 1


def test_pq_codes_and_adc_topk(spark):
    from cehrbert_data_spark.operators.similarity import pq_codes, pq_topk

    # centroid_mod=2 -> ids 0 and 2 are codebook entries. 4-dim vectors,
    # 2 subspaces of 2 dims.
    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [1.0, 0.1, 0.1, 1.0]),   # near 0 in both subspaces
        (2, [-1.0, 0.0, 0.0, -1.0]),
        (3, [-1.0, 0.1, 0.1, -1.0]),  # near 2 in both subspaces
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    codes = {(r["id"], r["m"]): r["code"] for r in pq_codes(
        df, "vec_id", "embedding", num_subspaces=2, centroid_mod=2
    ).collect()}
    assert codes[(1, 0)] == 0 and codes[(1, 1)] == 0
    assert codes[(3, 0)] == 2 and codes[(3, 1)] == 2
    # every vector has exactly num_subspaces codes
    assert len(codes) == 8

    queries = df.where(F.col("vec_id") == 0)
    out = pq_topk(
        df, queries, "vec_id", "embedding", k=3, num_subspaces=2, centroid_mod=2
    ).collect()
    ranked = [r["n_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # 1 quantizes to centroid 0 (adist2=0 from query 0); 2 and 3 both sit on
    # centroid 2 (equidistant) -> id tiebreak
    assert ranked == [1, 2, 3]
    adist = {r["n_id"]: r["adist2"] for r in out}
    assert adist[1] == 0 and adist[2] == adist[3] > 0


# --- SQL-text twins of Column helpers must build IDENTICAL trees ----------


def _norm_analyzed(df):
    """Analyzed plan with expression ids and auto-generated lambda variable
    names normalized away — the same discipline as
    tools/snapshot_logical_plans.py."""
    import re

    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"lambda [a-z_0-9]+", "lambda <x>", s)
    seen: dict[str, str] = {}

    def sub(m):
        k = m.group(0)
        seen.setdefault(k, f"#{len(seen)}")
        return seen[k]

    return re.sub(r"#\d+", sub, s)


def test_words_sql_twin_matches_words(spark):
    from cehrbert_data_spark.operators.text import words, words_sql

    df = spark.createDataFrame([("a b  c",)], "t: string")
    a = df.select(words(F.col("t")).alias("w"))
    b = df.selectExpr(f"{words_sql('t')} AS w")
    assert _norm_analyzed(a) == _norm_analyzed(b)


def test_md5_long_sql_twin_matches_md5_long(spark):
    from cehrbert_data_spark.operators.text import md5_long, md5_long_sql

    df = spark.createDataFrame([("abc",)], "t: string")
    a = df.select(md5_long(F.col("t")).alias("h"), md5_long(F.col("t"), 48).alias("h48"))
    b = df.selectExpr(f"{md5_long_sql('t')} AS h", f"{md5_long_sql('t', 48)} AS h48")
    assert _norm_analyzed(a) == _norm_analyzed(b)


def test_quality_features_tree_matches_column_form(spark):
    """The selectExpr build of quality_features must produce the same
    analyzed tree as the composed-Column original (lambda names aside)."""
    from cehrbert_data_spark.operators.text import (
        EN_STOPWORDS,
        quality_features,
        regex_tokens,
        stopword_ratio,
        words,
    )

    df = spark.createDataFrame([(1, "the cat sat on the mat")], "doc_id: long, text: string")
    new = quality_features(df)
    w = words(F.col("text"))
    n_words = F.size(w)
    total_word_chars = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    old = df.select(
        "*",
        F.length("text").alias("q_n_chars"),
        n_words.alias("q_n_words"),
        F.size(regex_tokens(F.col("text"))).alias("q_n_tokens"),
        (total_word_chars.cast("double") / F.greatest(n_words, F.lit(1))).alias(
            "q_mean_word_len"
        ),
        (
            F.size(F.array_distinct(w)).cast("double")
            / F.greatest(n_words, F.lit(1))
        ).alias("q_distinct_ratio"),
        stopword_ratio(w, EN_STOPWORDS).alias("q_stopword_ratio"),
    )
    assert _norm_analyzed(new) == _norm_analyzed(old)
