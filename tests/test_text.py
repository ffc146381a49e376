"""Text/dedup operator tests: planted duplicates, python-set Jaccard
oracles, rolling-hash reimplementation parity."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_quality_assessment_spark.operators.text import (
    MINHASH_P,
    _md5_48,
    _minhash_fold,
    exact_dedup,
    jaccard_pairs,
    language_id,
    minhash_lsh_candidates,
    minhash_signatures,
    near_dedup_minhash,
    quality_score,
    rolling_hashes,
    shingle_sets,
    simhash,
    text_stats,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun and the birds sing in the trees all day long here"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("lazy", "sleepy")),  # near duplicate of 0
        (3, "completely different content about spark query engines and parquet files and shuffles galore today"),
        (4, "der hund und die katze sind nicht auf der straße und das ist gut so für alle"),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING").cache()


def _pyshingles(text: str | None, k: int = 3, mode: str = "word") -> set[str]:
    if text is None:
        return set()
    if mode == "char":
        return {text[i : i + k] for i in range(len(text) - k + 1)}
    toks = text.split(" ")
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)} if len(toks) >= k else set()


@pytest.fixture(scope="module")
def edge_docs(spark, docs):
    """``docs`` plus the shingling edge cases: NULL text, the empty
    string, a double space (an empty token), exactly k=3 tokens, and
    fewer than k tokens."""
    edges = spark.createDataFrame(
        [(10, None), (11, ""), (12, "one  two three"), (13, "one two three"), (14, "one two")],
        "doc_id BIGINT, text STRING",
    )
    return docs.unionByName(edges).cache()


def test_shingle_sets_match_python(edge_docs):
    pdf = edge_docs.toPandas()
    for mode in ("word", "char"):
        got = [
            (r["doc_id"], r["shingle"])
            for r in shingle_sets(edge_docs, k=3, mode=mode).collect()
        ]
        assert len(got) == len(set(got)), mode  # distinct per document
        expect = {
            (i, s)
            for i, text in pdf.itertuples(index=False)
            for s in _pyshingles(text, 3, mode)
        }
        assert set(got) == expect, mode


def test_shingle_expr_splits_each_document_once(docs):
    """The token array is bound once per row: the optimized plan holds
    one ``split(``, not one per reference inside the per-shingle
    lambda."""
    plan = (
        shingle_sets(docs, k=3, mode="word")._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("split(") == 1, plan


def _per_column_fold(hashes, lanes):
    """The lane-by-lane Column construction of a MinHash fold: one
    aliased ``min`` Column per lane, then an array over the aliases."""
    wide = hashes.groupBy("doc_id").agg(*[l.alias(f"__s{i}") for i, l in enumerate(lanes)])
    return wide.select(
        "doc_id", F.array(*[F.col(f"__s{i}") for i in range(len(lanes))]).alias("sig")
    )


def test_minhash_fold_matches_per_column_lanes(spark):
    rows = [(i, " ".join(f"w{(i * 7 + j * 3) % 23}" for j in range(12))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    words = shingle_sets(df, k=3)
    hx = words.select("doc_id", F.xxhash64("shingle").alias("__h"))
    ref = _per_column_fold(hx, [F.min(F.xxhash64(F.lit(i), F.col("__h"))) for i in range(16)])
    got = _minhash_fold(hx, "doc_id", 16)
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())

    # pinned family: c spans INT (< 2^31) and BIGINT (up to 2^48) literals
    lanes = [(5, 17, 3), (8191, (1 << 20) - 1, (1 << 31) - 1), (4097, 0, 1 << 31),
             (3, 999, (1 << 48) - 1), (1, 1, 0), (77, 12345, 123456789012)]
    hm = words.select("doc_id", _md5_48(F.col("shingle")).alias("__h"))
    ref = _per_column_fold(hm, [
        F.min((F.lit(a) * F.col("__h").bitwiseXOR(F.lit(c)) + F.lit(b)) % F.lit(MINHASH_P))
        for a, b, c in lanes
    ])
    got = _minhash_fold(hm, "doc_id", n_hashes=128, lane_params=lanes)
    assert got.schema == ref.schema
    got_rows = sorted(got.collect())
    assert got_rows == sorted(ref.collect())
    assert all(len(r["sig"]) == len(lanes) for r in got_rows)


def test_jaccard_pairs_match_python(docs):
    sh = shingle_sets(docs, k=3, mode="word")
    rows = jaccard_pairs(sh, min_jaccard=0.0).collect()
    pdf = docs.toPandas()
    sets = {r.doc_id: _pyshingles(r.text) for r in pdf.itertuples()}
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j and sets[i] and sets[j]:
                inter = len(sets[i] & sets[j])
                if inter:
                    expect = inter / len(sets[i] | sets[j])
                    assert abs(got[(i, j)] - expect) < 1e-12
                else:
                    assert (i, j) not in got


def test_exact_dedup_keeps_lowest_id(docs):
    survivors = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert 0 in survivors and 1 not in survivors
    assert {2, 3, 4, 5} <= survivors


def test_minhash_near_dedup_finds_planted(docs):
    out = {r["doc_id"] for r in near_dedup_minhash(docs, min_jaccard=0.6).collect()}
    assert 1 not in out  # exact dup dropped
    assert 2 not in out  # near dup (1-word change) dropped
    assert {0, 3, 4, 5} <= out


def test_minhash_candidates_superset_of_high_jaccard(docs):
    sigs = minhash_signatures(docs, k=3, n_hashes=128)
    cands = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(sigs, bands=32).collect()}
    assert (0, 1) in cands and (0, 2) in cands
    # short doc has no shingles → must not appear anywhere
    assert not any(5 in pair for pair in cands)


def test_simhash_hamming_orders_similarity(docs):
    vals = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert vals[0] == vals[1]  # identical docs, identical hash

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(vals[0], vals[2]) < ham(vals[0], vals[3])


def test_rolling_hashes_match_python(spark):
    text = "hello world, rolling hashes!"
    df = spark.createDataFrame([(text,)], "text STRING")
    got = df.select(rolling_hashes(F.col("text"), k=8).alias("h")).first()["h"]
    P = 1_000_000_007
    expect = []
    for i in range(len(text) - 7):
        acc = 0
        for ch in text[i : i + 8]:
            acc = (acc * 31 + ord(ch)) % P
        expect.append(acc)
    assert got == expect


def test_text_stats_and_quality(docs):
    st = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert st[0]["n_chars"] == len(BASE)
    assert st[0]["n_tokens"] == len(BASE.split(" "))
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert q[0] > q[5]  # long english beats 5-char doc


def test_language_id(docs):
    langs = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert langs[0] == "en"
    assert langs[4] == "de"


def test_simhash_near_dedup(docs):
    from bigdata_quality_assessment_spark.operators.text import simhash_near_dedup

    out = {r["doc_id"] for r in simhash_near_dedup(docs, k=3, max_hamming=3).collect()}
    # exact dup (1) has Hamming 0 from doc 0 -> dropped; the distinct
    # docs (3, 4, 5) survive; doc 0 is the lowest id of its group.
    assert 0 in out and 1 not in out
    assert {3, 4, 5} <= out

    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_near_dedup(docs, max_hamming=7)


def test_ngram_repetition_stats_hand_computed(spark):
    from bigdata_quality_assessment_spark.operators.text import ngram_repetition_stats

    rows = [
        # "a b a b a": words 5, distinct 2 -> dup_word 3/5
        # bigrams: "a b","b a","a b","b a" -> top 2/4
        # trigrams: "a b a","b a b","a b a" -> dup occurrences 2/3
        (0, "a b a b a"),
        # all-unique doc: every frac 0
        (1, "w x y z"),
        # single word: no bigrams/trigrams -> 0 by guard
        (2, "solo"),
        # empty text -> split gives [''] -> one "word", zero fracs
        (3, ""),
        # pathological full repetition: "t t t t t t"
        (4, "t t t t t t"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r for r in ngram_repetition_stats(docs).collect()}
    assert got[0]["n_words"] == 5
    assert got[0]["dup_word_frac"] == pytest.approx(3 / 5)
    assert got[0]["top_bigram_frac"] == pytest.approx(2 / 4)
    assert got[0]["dup_trigram_frac"] == pytest.approx(2 / 3)
    assert got[1]["dup_word_frac"] == 0.0
    assert got[1]["top_bigram_frac"] == pytest.approx(1 / 3)  # all count 1
    assert got[1]["dup_trigram_frac"] == 0.0
    assert got[2] == got[2]  # row exists
    assert (got[2]["top_bigram_frac"], got[2]["dup_trigram_frac"]) == (0.0, 0.0)
    assert got[3]["n_words"] == 1  # split('') -> ['']
    assert got[4]["dup_word_frac"] == pytest.approx(5 / 6)
    assert got[4]["top_bigram_frac"] == pytest.approx(1.0)
    assert got[4]["dup_trigram_frac"] == pytest.approx(1.0)


def test_pii_scan_counts(spark):
    from bigdata_quality_assessment_spark.operators.text import pii_scan

    rows = [
        (0, "reach me at alice@example.com or bob.smith+x@mail.co.uk thanks"),
        (1, "see https://example.org/a and http://x.io b"),
        (2, "server 192.168.0.1 and 10.0.0.255 up"),
        (3, "call +1 555-123-4567 or 555-987-6543 now"),
        (4, "no sensitive content here at all"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert got[0]["n_emails"] == 2 and got[0]["has_pii"]
    assert got[1]["n_urls"] == 2
    assert got[2]["n_ipv4"] == 2
    assert got[3]["n_phones"] == 2
    assert not got[4]["has_pii"] and not got[5]["has_pii"]


def test_chunk_text_overlap_windows(spark):
    from bigdata_quality_assessment_spark.operators.text import chunk_text

    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(10))), (1, "a b"), (2, "solo")],
        "doc_id BIGINT, text STRING",
    )
    out = chunk_text(docs, max_tokens=8, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 10 tokens, window 8, stride 4 -> starts 0 and 4 (tail covered)
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert [r["n_chunk_tokens"] for r in c0] == [8, 6]
    assert c0[0]["chunk"].split() == [f"w{i}" for i in range(8)]
    assert c0[1]["chunk"].split() == [f"w{i}" for i in range(4, 10)]
    # short docs: exactly one chunk, intact
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk"] == "a b"
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk"] == "solo"
    # every token of every doc appears in at least one chunk
    assert set(" ".join(r["chunk"] for r in c0).split()) == {f"w{i}" for i in range(10)}


def test_chunk_text_reconstruction_property(spark):
    """Dropping each chunk's overlap prefix (except the first) and
    concatenating reconstructs the document exactly."""
    from bigdata_quality_assessment_spark.operators.text import chunk_text

    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"t{rng.randrange(50)}" for _ in range(rng.randrange(1, 200))))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = chunk_text(docs, max_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in rows:
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
        rebuilt = chunks[0]["chunk"].split()
        for c in chunks[1:]:
            toks = c["chunk"].split()
            rebuilt += toks[8:] if c["chunk_id"] > 0 else toks
        assert rebuilt == text.split(), doc_id


def test_decontaminate_flags_ngram_collisions(spark):
    from bigdata_quality_assessment_spark.operators.text import (
        decontaminate,
        drop_contaminated,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (1, "prefix words alpha beta gamma delta epsilon suffix tail"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "tiny doc"),  # shorter than k -> zero grams, never flagged
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "pad alpha beta gamma delta epsilon pad2")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontaminate(docs, bench, k=5).collect()
    }
    # python-set oracle: distinct shared word 5-grams per doc
    def grams(t, k=5):
        ws = t.split(" ")
        return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}

    bg = grams("pad alpha beta gamma delta epsilon pad2")
    for did, text in [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (1, "prefix words alpha beta gamma delta epsilon suffix tail"),
        (2, "one two three four five six seven eight nine ten"),
        (3, "tiny doc"),
    ]:
        n = len(grams(text) & bg)
        assert out[did] == (n, n >= 1), (did, out[did], n)

    # hashed-key fast path is row-identical to the string-join path
    a = sorted(
        map(tuple, decontaminate(docs, bench, k=5, hash_grams=True).collect())
    )
    b = sorted(
        map(tuple, decontaminate(docs, bench, k=5, hash_grams=False).collect())
    )
    assert a == b

    clean = drop_contaminated(docs, bench, k=5)
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3]


def test_decontaminate_min_hits_threshold(spark):
    from bigdata_quality_assessment_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h"), (1, "a b c d e x y z")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "a b c d e f g")], "doc_id long, text string"
    )
    # doc 0 shares 3 grams ("a b c d e","b c d e f","c d e f g"); doc 1 shares 1
    out = {
        r.doc_id: r.contaminated
        for r in decontaminate(docs, bench, k=5, min_hits=2).collect()
    }
    assert out == {0: True, 1: False}


def test_normalize_text(spark):
    from bigdata_quality_assessment_spark.operators.text import (
        exact_dedup,
        normalize_text,
    )

    docs = spark.createDataFrame(
        [
            (0, "Hello   World\t\n"),
            (1, "hello world"),
            (2, "Hello\x07 WORLD \x1f"),
            (3, "other, doc!"),
        ],
        "doc_id long, text string",
    )
    n = {r.doc_id: r.n for r in docs.select(
        "doc_id", normalize_text("text").alias("n")).collect()}
    assert n[0] == n[1] == n[2] == "hello world"
    assert n[3] == "other, doc!"
    np = docs.select("doc_id", normalize_text("text", strip_punct=True).alias("n"))
    assert {r.n for r in np.filter("doc_id = 3").collect()} == {"other doc"}
    # normalized exact dedup collapses the case/whitespace variants
    kept = exact_dedup(docs.withColumn("text", normalize_text("text")))
    assert sorted(r.doc_id for r in kept.collect()) == [0, 3]


def test_fuzzy_decontaminate_catches_paraphrase(spark):
    from bigdata_quality_assessment_spark.operators.text import (
        decontaminate,
        fuzzy_decontaminate,
    )

    eval_doc = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps in the warm sun and the birds sing in the trees"
    )
    # light truncation+edit: high shingle overlap, few exact 13-grams
    leaked = (
        "the quick brown fox jumps over the sleepy dog while the cat "
        "sleeps in the warm sun and the birds sing in the trees"
    )
    clean = "completely unrelated content about spark catalyst plans and parquet row groups and arrow batches here"
    docs = spark.createDataFrame(
        [(0, leaked), (1, clean), (2, eval_doc)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, eval_doc)], "doc_id long, text string")

    out = {r.doc_id: (r.matched_bench_id, r.jaccard) for r in
           fuzzy_decontaminate(docs, bench, k=3, bands=32, min_jaccard=0.5).collect()}
    assert 0 in out and 2 in out and 1 not in out
    assert out[2][1] == 1.0 and out[2][0] == 100  # exact copy: jaccard 1
    assert 0.5 <= out[0][1] < 1.0
    # the exact-13-gram tier misses the paraphrase, the fuzzy tier doesn't
    exact = {r.doc_id: r.contaminated for r in
             decontaminate(docs, bench, k=13).collect()}
    assert exact[2] and not exact[1]


def test_pack_sequences(spark):
    from bigdata_quality_assessment_spark.operators.text import (
        chunk_text,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(100))),
         (1, " ".join(f"v{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    chunks = chunk_text(docs, max_tokens=32, overlap=0).coalesce(1)
    packed = pack_sequences(chunks, max_tokens=70).collect()
    # every chunk appears exactly once
    assert len(packed) == chunks.count()
    # no packed (non-oversize) sequence exceeds the budget
    seqs = {}
    for r in packed:
        seqs.setdefault(r.seq_id, []).append(r)
    for sid, rows in seqs.items():
        tot = sum(r.n_chunk_tokens for r in rows)
        assert tot == rows[0].seq_tokens
        if not rows[0].oversize:
            assert tot <= 70, (sid, tot)
    # at least one sequence holds more than one chunk (packing happened)
    assert any(len(rows) > 1 for rows in seqs.values())

    # oversize chunks get their own flagged singleton sequence
    big = spark.createDataFrame(
        [(0, 5, 100), (1, 0, 10), (2, 1, 10)],
        "doc_id long, chunk_id long, n_chunk_tokens long",
    ).coalesce(1)
    rows = pack_sequences(big, max_tokens=64).collect()
    over = [r for r in rows if r.oversize]
    assert len(over) == 1 and over[0].n_chunk_tokens == 100
    assert len({r.seq_id for r in rows if not r.oversize}) == 1
    assert over[0].seq_id not in {r.seq_id for r in rows if not r.oversize}

    # partition-local ids never collide across partitions
    multi = pack_sequences(
        spark.createDataFrame(
            [(i, 0, 10) for i in range(100)],
            "doc_id long, chunk_id long, n_chunk_tokens long",
        ).repartition(8),
        max_tokens=25,
    )
    pairs = multi.select("seq_id").distinct().count()
    assert pairs >= 8  # at least one sequence per non-empty partition


def test_tf_idf_matches_python(spark):
    import math

    from bigdata_quality_assessment_spark.operators.text import tf_idf

    corpus = {0: "a b a c", 1: "a d d", 2: "e e e"}
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    out = {(r.doc_id, r.term): (r.tf, r.df, r.tfidf) for r in tf_idf(docs).collect()}
    N = len(corpus)
    dfc = {}
    for t in corpus.values():
        for w in set(t.split()):
            dfc[w] = dfc.get(w, 0) + 1
    for did, t in corpus.items():
        for w in set(t.split()):
            tf = t.split().count(w)
            expect = tf * (math.log((N + 1) / (dfc[w] + 1)) + 1)
            got = out[(did, w)]
            assert got[0] == tf and got[1] == dfc[w]
            assert abs(got[2] - expect) < 1e-12
    top = {r.doc_id: r.term for r in tf_idf(docs, top_k=1).collect()}
    assert top[2] == "e" and top[1] == "d"


def test_pack_sequences_multi_arrow_batch_flush(spark):
    """The incremental flush path: with tiny Arrow batches a sequence
    can span batch boundaries; totals must still be consistent and
    every chunk assigned once."""
    from bigdata_quality_assessment_spark.operators.text import pack_sequences

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(i, 0, 10 + (i % 3)) for i in range(100)]
        df = spark.createDataFrame(
            rows, "doc_id long, chunk_id long, n_chunk_tokens long"
        ).coalesce(1)
        out = pack_sequences(df, max_tokens=47).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(out) == 100
    assert sorted(r.doc_id for r in out) == list(range(100))
    seqs = {}
    for r in out:
        seqs.setdefault(r.seq_id, []).append(r)
    assert len(seqs) > 10  # many sequences -> several spanned batch edges
    for rows_ in seqs.values():
        tot = sum(r.n_chunk_tokens for r in rows_)
        assert all(r.seq_tokens == tot for r in rows_)
        assert tot <= 47


def test_ngram_lm_score_matches_python(spark):
    """Self-trained bigram perplexity equals a python reimplementation
    (add-k smoothing, BOS sentinel), and empty docs get NULLs."""
    from collections import Counter

    from bigdata_quality_assessment_spark.operators.text import ngram_lm_score

    rows = [
        (0, "a b a b c"),
        (1, "a b a b a b"),
        (2, "c c c"),
        (3, ""),  # no tokens -> NULL ppl
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in ngram_lm_score(docs, add_k=0.5).collect()
    }

    # python oracle
    def pairs(t):
        ws = [w for w in t.split(" ") if w]
        return list(zip(["<s>"] + ws[:-1], ws))

    bi = Counter(p for _, t in rows for p in pairs(t))
    ctx = Counter()
    for (p, _), c in bi.items():
        ctx[p] += c
    vocab = {w for _, t in rows for w in t.split(" ") if w}
    v = len(vocab)
    for doc_id, t in rows:
        ps = pairs(t)
        r = out[doc_id]
        assert r["n_lm_tokens"] == len(ps)
        if not ps:
            assert r["avg_logp"] is None and r["ppl"] is None
            continue
        lp = sum(
            np.log((bi[p] + 0.5) / (ctx[p[0]] + 0.5 * v)) for p in ps
        ) / len(ps)
        assert r["avg_logp"] == pytest.approx(lp, rel=1e-12)
        assert r["ppl"] == pytest.approx(np.exp(-lp), rel=1e-12)


def test_ngram_lm_cross_train_and_unk(spark):
    """Cross-corpus training: fluent text (seen bigrams) scores lower
    perplexity than unseen text; max_vocab folds rare tokens to <unk>
    on both sides so OOV scoring is finite and vocabulary-bounded."""
    from bigdata_quality_assessment_spark.operators.text import ngram_lm_score

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)], ["doc_id", "text"]
    )
    score = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "zyx wvu tsr qpo nml kji")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in ngram_lm_score(score, train).collect()}
    assert out[0]["ppl"] < out[1]["ppl"]
    assert np.isfinite(out[1]["ppl"])

    # max_vocab=2 keeps only the two most frequent train tokens ("the"
    # + lexicographic tie-break); everything else scores as <unk>, so
    # any two all-OOV docs of equal length get the IDENTICAL score
    score2 = spark.createDataFrame(
        [(0, "zebra yak xerus wombat"), (1, "aa bb cc dd")], ["doc_id", "text"]
    )
    out2 = {r["doc_id"]: r for r in ngram_lm_score(score2, train, max_vocab=2).collect()}
    assert out2[0]["ppl"] == pytest.approx(out2[1]["ppl"], rel=1e-12)


def test_dedup_spans_removes_boilerplate_keeps_first(spark):
    """C4-style span dedup: the duplicated 5-word span survives only
    at its globally-first (doc, span_idx); unique prose is untouched;
    the hashed scale path equals the exact string-keyed path."""
    from bigdata_quality_assessment_spark.operators.text import dedup_spans

    boiler = "subscribe to our newsletter now"
    rows = [
        (0, f"{boiler} unique zero content words here"),
        (1, f"{boiler} other one content words here"),
        # NB spans are fixed non-overlapping windows: the boilerplate
        # must sit on a span boundary (word offset % 5 == 0) to be
        # keyed identically — unaligned repeats are the n-gram ops' job
        (2, f"totally unique document two here {boiler}"),
        (3, ""),
        (4, "short tail"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_spans(docs, span_tokens=5).collect()}
    # first occurrence (doc 0, span 0) survives
    assert out[0]["text_deduped"] == rows[0][1]
    assert out[0]["n_spans_removed"] == 0
    # later occurrences removed, remainder reassembled in order
    assert out[1]["text_deduped"] == "other one content words here"
    assert out[1]["n_spans_removed"] == 1
    assert out[2]["text_deduped"] == "totally unique document two here"
    assert out[2]["n_spans_removed"] == 1
    # token-less doc: NULL text, zero spans
    assert out[3]["text_deduped"] is None and out[3]["n_spans"] == 0
    # sub-span_tokens doc is one (partial) span
    assert out[4]["text_deduped"] == "short tail" and out[4]["n_spans"] == 1

    a = sorted(map(tuple, dedup_spans(docs, 5, hash_spans=True).collect()))
    b = sorted(map(tuple, dedup_spans(docs, 5, hash_spans=False).collect()))
    assert a == b


def test_dedup_spans_all_removed_yields_empty_string(spark):
    """A document made entirely of boilerplate reassembles to ''
    (present but empty), distinct from the NULL of a token-less doc."""
    from bigdata_quality_assessment_spark.operators.text import dedup_spans

    span = "one two three four five"
    docs = spark.createDataFrame(
        [(0, span), (1, span), (2, "")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in dedup_spans(docs, span_tokens=5).collect()}
    assert out[0]["text_deduped"] == span          # first occurrence kept
    assert out[1]["text_deduped"] == ""            # everything removed
    assert out[1]["n_spans_removed"] == 1
    assert out[2]["text_deduped"] is None


def test_dedup_spans_min_count_threshold(spark):
    """min_count=3: a span must appear 3x corpus-wide before any copy
    is removed (2x spans survive everywhere)."""
    from bigdata_quality_assessment_spark.operators.text import dedup_spans

    s = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(0, s), (1, s), (2, s + " tail_a words_b here_c pad_d more_e")],
        ["doc_id", "text"],
    )
    out2 = {r["doc_id"]: r["n_spans_removed"] for r in dedup_spans(docs, 5, min_count=2).collect()}
    out3 = {r["doc_id"]: r["n_spans_removed"] for r in dedup_spans(docs, 5, min_count=3).collect()}
    assert out2 == {0: 0, 1: 1, 2: 1}
    assert out3 == {0: 0, 1: 1, 2: 1} or sum(out3.values()) == 2
    # with min_count=3 the span appears 3x -> still removed twice; raise corpus
    docs2 = spark.createDataFrame([(0, s), (1, s)], ["doc_id", "text"])
    only2 = {r["doc_id"]: r["n_spans_removed"] for r in dedup_spans(docs2, 5, min_count=3).collect()}
    assert only2 == {0: 0, 1: 0}


def test_strip_html(spark):
    """Tag removal, script/style payload deletion, entity unescape,
    whitespace collapse — and double-escaped entities survive as their
    single-escaped form."""
    from bigdata_quality_assessment_spark.operators.text import strip_html

    rows = [
        (0, "<html><head><style>b{color:red}</style></head><body>"
            "<p>Hello &amp; <b>world</b></p><!-- c --><script>x<y</script>"
            "bye</body></html>"),
        (1, "a<br>b &lt;tag&gt; &#39;q&#39; &amp;lt;"),
        (2, None),
        (3, "no markup at all"),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    got = {r["i"]: r["s"] for r in df.select("i", strip_html("t").alias("s")).collect()}
    assert got[0] == "Hello & world bye"
    assert got[1] == "a b <tag> 'q' &lt;"
    assert got[2] is None
    assert got[3] == "no markup at all"


def test_fix_mojibake_roundtrip_and_guards(spark):
    """Latin-1 mojibake is repaired to the original text; clean
    accented text (which the corruption process never produced) is
    left byte-identical."""
    from bigdata_quality_assessment_spark.operators.text import fix_mojibake

    def corrupt(s):
        return s.encode("utf-8").decode("latin-1")

    goods = ["Café crème", "Über", "naïve résumé"]
    cleans = ["clean français text", "Straße", "plain ascii"]
    rows = [(i, corrupt(g)) for i, g in enumerate(goods)]
    rows += [(100 + i, c) for i, c in enumerate(cleans)]
    df = spark.createDataFrame(rows, ["i", "t"])
    got = {r["i"]: r["s"] for r in df.select("i", fix_mojibake("t").alias("s")).collect()}
    for i, g in enumerate(goods):
        assert got[i] == g, (i, ascii(got[i]))
    for i, c in enumerate(cleans):
        assert got[100 + i] == c, (i, ascii(got[100 + i]))


def test_fix_mojibake_hostile_inputs_do_not_crash(spark):
    """The review-found crash classes: mixed mojibake + bare Latin-1
    (invalid UTF-8 byte structure), truncated lead bytes, and astral
    chars (emoji) alongside a mojibake signature. All must pass
    through UNTOUCHED — under Spark 4 an unguarded decode/encode
    raises MALFORMED_CHARACTER_CODING and kills the job."""
    from bigdata_quality_assessment_spark.operators.text import fix_mojibake

    def corrupt(s):
        return s.encode("utf-8").decode("latin-1")

    hostile = [
        (0, corrupt("Café") + " ¡Hola!"),  # valid moji + bare continuation byte
        (1, corrupt("Café") + " Â"),        # truncated lead byte at end
        (2, corrupt("Café") + " \U0001f600"),    # astral char: not Latin-1-encodable
        (3, "Ã©" * 3),                  # pure repairable mojibake ('ééé')
    ]
    df = spark.createDataFrame(hostile, ["i", "t"])
    got = {r["i"]: r["s"] for r in df.select("i", fix_mojibake("t").alias("s")).collect()}
    assert got[0] == hostile[0][1]   # untouched, not crashed
    assert got[1] == hostile[1][1]
    assert got[2] == hostile[2][1]
    assert got[3] == "ééé"          # the clean case still repairs


def test_ngram_lm_rejects_unsmoothed(spark):
    """add_k=0 would silently skip unseen-context tokens under the
    ANSI division guard — must refuse loudly instead."""
    from bigdata_quality_assessment_spark.operators.text import ngram_lm_score

    docs = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="add_k"):
        ngram_lm_score(docs, add_k=0.0)


def test_dedup_substrings_unaligned_excision(spark):
    """Unaligned repeats: a 6-token boilerplate embedded at DIFFERENT
    offsets in two docs (invisible to the fixed span grid) is excised
    from the second arrival; first occurrence intact; surrounding
    unique prose survives and rejoins."""
    from bigdata_quality_assessment_spark.operators.text import dedup_substrings

    boiler = "all rights reserved contact us today"          # 6 tokens
    rows = [
        (0, f"alpha beta {boiler} gamma delta"),             # offset 2
        (1, f"x {boiler} y z"),                              # offset 1 (unaligned)
        (2, "totally unrelated document content here"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_substrings(docs, min_tokens=6).collect()}
    assert out[0]["text_deduped"] == rows[0][1]
    assert out[0]["n_tokens_removed"] == 0
    assert out[1]["text_deduped"] == "x y z"
    assert out[1]["n_tokens_removed"] == 6
    assert out[2]["n_tokens_removed"] == 0
    assert out[3]["text_deduped"] is None and out[3]["n_tokens"] == 0


def test_dedup_substrings_long_run_coverage(spark):
    """A duplicated run LONGER than min_tokens is covered end-to-end
    by its constituent L-grams (the suffix-array-equivalence
    property), and within-doc self-repetition is excised after the
    first occurrence."""
    from bigdata_quality_assessment_spark.operators.text import dedup_substrings

    run = " ".join(f"w{i}" for i in range(10))               # 10-token run
    rows = [
        (0, f"{run} MID {run}"),                             # self-repeat
        (1, f"pre {run} post"),                              # cross-doc repeat
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_substrings(docs, min_tokens=4).collect()}
    # doc 0: first run kept, second run fully excised
    assert out[0]["text_deduped"] == f"{run} MID"
    assert out[0]["n_tokens_removed"] == 10
    # doc 1: the whole run excised (later global occurrence), prose kept
    assert out[1]["text_deduped"] == "pre post"
    assert out[1]["n_tokens_removed"] == 10


def test_dedup_family_input_validation_and_string_ids(spark):
    """Window sizes < 1 fail loudly; string document ids WORK (struct
    first-occurrence ordering is type-agnostic — 'first' = smallest
    (id, position) lexicographically), and huge 64-bit hash ids cannot
    overflow the ordering."""
    from bigdata_quality_assessment_spark.operators.text import (
        dedup_spans,
        dedup_substrings,
    )

    ndocs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="min_tokens"):
        dedup_substrings(ndocs, 0)
    with pytest.raises(ValueError, match="span_tokens"):
        dedup_spans(ndocs, 0)

    span = "one two three four five"
    sdocs = spark.createDataFrame(
        [("url-b", span), ("url-a", span)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in dedup_spans(sdocs, 5).collect()}
    assert got["url-a"]["n_spans_removed"] == 0   # lexicographic first
    assert got["url-b"]["n_spans_removed"] == 1
    got2 = {r["doc_id"]: r for r in dedup_substrings(sdocs, 5).collect()}
    assert got2["url-a"]["n_tokens_removed"] == 0
    assert got2["url-b"]["n_tokens_removed"] == 5

    # 64-bit hash-range ids: ordering must stay exact (no overflow)
    big = 2**62
    hdocs = spark.createDataFrame(
        [(big + 1, span), (big, span)], ["doc_id", "text"]
    )
    got3 = {r["doc_id"]: r["n_spans_removed"] for r in dedup_spans(hdocs, 5).collect()}
    assert got3 == {big: 0, big + 1: 1}


def test_dsir_weights_favor_target_domain(spark):
    """DSIR log weights: docs whose token statistics match the target
    corpus get HIGHER log p_target - log p_background than docs that
    look like the background; weights are deterministic and NULL for
    token-less docs."""
    from bigdata_quality_assessment_spark.operators.text import dsir_weights

    target_rows = [(100 + i, "alpha beta gamma delta " * 4) for i in range(8)]
    docs_rows = (
        [(0, "alpha beta gamma delta alpha beta")]  # target-like
        + [(1, "zig zag quux corge zig zag")]  # background-only
        + [(2, "zig zag quux corge grault zag")]
        + [(3, "")]  # token-less -> NULL
        + [(10 + i, "zig zag quux corge grault garply") for i in range(6)]
    )
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    w = {r["doc_id"]: r for r in dsir_weights(docs, target).collect()}
    assert w[3]["log_weight"] is None
    assert w[0]["log_weight"] > w[1]["log_weight"]
    assert w[0]["log_weight"] > 0 > w[1]["log_weight"]
    # pure function of (corpora): repartition changes nothing
    w2 = {r["doc_id"]: r["log_weight"]
          for r in dsir_weights(docs.repartition(5), target).collect()}
    assert all(w2[k] == w[k]["log_weight"] for k in w2)


def test_dsir_sample_is_biased_deterministic_and_exact(spark):
    """Gumbel top-k resampling: exactly n rows, reproducible across
    runs/repartitionings, and the target-like minority is heavily
    over-represented relative to its corpus share."""
    from bigdata_quality_assessment_spark.operators.text import dsir_sample

    like = [(i, "alpha beta gamma delta epsilon zeta " * 3) for i in range(20)]
    noise = [(100 + i, f"w{i % 17} v{i % 13} zig zag quux corge u{i % 7}")
             for i in range(180)]
    docs = spark.createDataFrame(like + noise, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + i, "alpha beta gamma delta epsilon zeta " * 4) for i in range(10)],
        "doc_id long, text string",
    )
    got = dsir_sample(docs, target, 30, seed=7)
    ids = sorted(r["doc_id"] for r in got.collect())
    assert len(ids) == 30
    ids2 = sorted(
        r["doc_id"] for r in dsir_sample(docs.repartition(9), target, 30, seed=7).collect()
    )
    assert ids == ids2
    frac_like = sum(1 for i in ids if i < 100) / 30
    assert frac_like > 0.5, frac_like  # 10% of corpus, >50% of sample


def test_redact_pii_removes_every_indicator(spark):
    """redact_pii: every pii_scan pattern becomes its typed
    placeholder, a rescan of the redacted text reports ZERO remaining
    indicators, and clean text passes through unchanged."""
    from bigdata_quality_assessment_spark.operators.text import pii_scan, redact_pii

    rows = [
        (0, "write to alice.b+x@corp.example.org or bob@ex.io today"),
        (1, "see https://ex.org/a?b=1 and http://t.co/x for info"),
        (2, "host 10.0.0.1 and 192.168.255.3 are up"),
        (3, "call +1 555-123-4567 or 212 555 1234 now"),
        (4, "no sensitive content in this one at all"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    red = docs.select("doc_id", redact_pii("text").alias("text"))
    got = {r["doc_id"]: r["text"] for r in red.collect()}
    assert got[0] == "write to <EMAIL> or <EMAIL> today"
    assert got[1] == "see <URL> and <URL> for info"
    assert got[2] == "host <IP> and <IP> are up"
    assert "<PHONE>" in got[3]
    assert got[4] == rows[4][1]
    assert got[5] is None
    rescan = pii_scan(red).collect()
    for r in rescan:
        if r["doc_id"] == 5:
            continue
        assert not r["has_pii"], r


def test_redact_pii_url_stops_at_newline(spark):
    """The URL pattern must stop at ANY whitespace: with [^ ]+ a URL
    at end of line swallowed the next line's leading word into <URL>
    — data destruction in the release rewrite (round-6 review)."""
    from bigdata_quality_assessment_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [(0, "see https://a.b/c\nImportant sentence here")],
        "doc_id long, text string",
    )
    got = docs.select(redact_pii("text").alias("t")).collect()[0]["t"]
    assert got == "see <URL>\nImportant sentence here"


def test_redact_pii_idempotent_on_fuzz(spark):
    """Property: redact_pii is idempotent — placeholders contain
    nothing any PII pattern can match, so a second pass is a no-op.
    Seeded fuzz over PII-dense and random text."""
    import random

    from bigdata_quality_assessment_spark.operators.text import redact_pii

    rng = random.Random(11)
    frags = [
        "a@b.co", "https://x.y/z?q=1", "10.0.0.1", "+44 555-123-4567",
        "plain", "word", "\n", "\t", "<EMAIL>", "end.", "a.b@c.d.ee",
        "http://t", "999.999.999.999", "BM", "☃",
    ]
    rows = [
        (i, " ".join(rng.choice(frags) for _ in range(rng.randrange(0, 12))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    once = docs.select("doc_id", redact_pii("text").alias("text"))
    twice = once.select("doc_id", redact_pii("text").alias("text"))
    a = {r.doc_id: r.text for r in once.collect()}
    b = {r.doc_id: r.text for r in twice.collect()}
    assert a == b


def test_doc_fingerprints_arrow_matches_fold(spark):
    """The round-9 Arrow migration of the rolling-hash fingerprints is
    pure integer arithmetic — bit-identical to the Catalyst fold on
    ASCII, non-ASCII (codepoints, not UTF-8 bytes), short (< k), empty,
    and NULL documents."""
    from bigdata_quality_assessment_spark.operators.text import doc_fingerprints

    rows = [
        (0, "hello world, rolling hashes roll along the rolling text"),
        (1, "héllo wörld — ünïcode codepoints über alles, naïve café"),
        (2, "short"),          # < k -> no grams
        (3, ""),               # empty
        (4, None),             # NULL
        (5, "hello world, rolling hashes roll along the rolling text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for mod_p in (1, 4):  # mod_p=1 keeps EVERY hash -> strongest check
        a = {
            (r["doc_id"], r["fp"])
            for r in doc_fingerprints(docs, k=8, mod_p=mod_p, impl="arrow").collect()
        }
        s = {
            (r["doc_id"], r["fp"])
            for r in doc_fingerprints(docs, k=8, mod_p=mod_p, impl="sql").collect()
        }
        assert a == s and len(a) > 0


def test_doc_fingerprints_large_k_high_codepoints(spark):
    """Overflow guard (round-10): a single matmul-then-mod overflows
    int64 once k·log2(31) + log2(max codepoint) > 63 — k>=10 with high
    codepoints, k>=14 even for ASCII. The per-step-mod Horner fold must
    stay bit-identical to the SQL fold there."""
    from bigdata_quality_assessment_spark.operators.text import doc_fingerprints

    high = chr(0x10FFFF)  # max codepoint — worst case for overflow
    rows = [
        (0, high * 40),
        (1, (high + "平仮名カタカナ漢字テスト") * 4),
        (2, "plain ascii text long enough for every k we try " * 2),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (10, 14, 20):
        a = {
            (r["doc_id"], r["fp"])
            for r in doc_fingerprints(docs, k=k, mod_p=1, impl="arrow").collect()
        }
        s = {
            (r["doc_id"], r["fp"])
            for r in doc_fingerprints(docs, k=k, mod_p=1, impl="sql").collect()
        }
        assert a == s and len(a) > 0, k


def test_ngram_repetition_arrow_matches_catalyst(spark):
    """The round-9 Arrow migration: Counter-based tallies must be
    value-identical to the tagged-explode Catalyst shape — integer
    ratios, same division — including empty text (one empty token),
    multi-space runs (empty tokens preserved), short docs, repeated
    content, and NULL text (no output row on either path)."""
    from bigdata_quality_assessment_spark.operators.text import (
        ngram_repetition_stats,
    )

    rows = [
        (0, "a b a b a b a b"),           # heavy bigram repetition
        (1, "the quick brown fox jumps"),  # all distinct
        (2, "x x x"),
        (3, ""),                           # one empty token
        (4, "a  b   c"),                   # empty tokens from runs
        (5, "one"),                        # no bigrams
        (6, "two words"),                  # no trigrams
        (7, None),                         # dropped by both paths
        (8, "r s t r s t r s t u v"),      # trigram dups
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r for r in ngram_repetition_stats(docs, impl="arrow").collect()}
    s = {r["doc_id"]: r for r in ngram_repetition_stats(docs, impl="sql").collect()}
    assert set(a) == set(s) and 7 not in a
    for k in a:
        assert tuple(a[k]) == tuple(s[k]), (k, a[k], s[k])


def test_stopword_ratio_rejects_bad_lexicons(spark):
    """Non-lowercase / multi-word / empty lexicon entries would
    silently change match semantics under the regexp_count pass —
    they must raise instead."""
    import pytest as _pytest

    from bigdata_quality_assessment_spark.operators.text import stopword_ratio

    for bad in (("The",), ("of course",), ("",)):
        with _pytest.raises(ValueError, match="lexicon"):
            stopword_ratio(F.col("text"), bad)
    # lowercase single words still work
    df = spark.createDataFrame([("the cat the",)], "text string")
    got = df.select(stopword_ratio(F.col("text"), ("the",)).alias("r")).first()["r"]
    assert got == pytest.approx(2 / 3)


def test_text_arrow_operators_preserve_string_ids(spark):
    """Round-10 ADVICE fix: ngram_repetition_stats and
    doc_fingerprints carry a STRING doc id through their Arrow
    mapInPandas schemas instead of miscasting to long."""
    from bigdata_quality_assessment_spark.operators.text import (
        doc_fingerprints,
        ngram_repetition_stats,
    )

    docs = spark.createDataFrame(
        [("d-1", "alpha beta alpha beta gamma alpha beta"),
         ("d-2", "one two three four five six seven eight nine ten")],
        "doc_id STRING, text STRING",
    )
    st = {r["doc_id"]: r for r in ngram_repetition_stats(docs).collect()}
    assert set(st) == {"d-1", "d-2"} and st["d-1"]["n_words"] == 7
    fp = doc_fingerprints(docs, k=4, mod_p=1)
    ids = {r["doc_id"] for r in fp.collect()}
    assert ids == {"d-1", "d-2"}
    # arrow and sql agree on string ids too
    a = {(r["doc_id"], r["fp"]) for r in doc_fingerprints(docs, k=4, mod_p=1, impl="arrow").collect()}
    s = {(r["doc_id"], r["fp"]) for r in doc_fingerprints(docs, k=4, mod_p=1, impl="sql").collect()}
    assert a == s


def test_simhash_near_dedup_two_level_identical(spark):
    """two_level (band, sub-band) keys are a candidate prefilter only:
    survivor sets match single-level banding exactly (nested-pigeonhole
    completeness), for both signature families."""
    from bigdata_quality_assessment_spark.operators.text import (
        simhash_near_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog near the river "
    rows = [
        (0, base * 3),
        (1, base * 3),                          # exact copy
        (2, base * 3 + "extra tail token"),     # near copy
        (3, "completely different content about spark catalyst plans"),
        (4, "unrelated text on audio fingerprints and energy windows"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for hf in ("xxhash64", "md5_48"):
        one = sorted(
            r["doc_id"]
            for r in simhash_near_dedup(docs, hash_fn=hf).collect()
        )
        two = sorted(
            r["doc_id"]
            for r in simhash_near_dedup(
                docs, hash_fn=hf, two_level=True
            ).collect()
        )
        assert one == two
        assert 0 in one and 3 in one and 4 in one


def test_dedup_anti_joins_carry_no_broadcast_hint(spark):
    """The round-14 scale pin for VERDICT r13 `weak` #1: neither
    simhash_near_dedup nor exact_dedup may force-broadcast the
    duplicate-drop set — it is corpus-shaped (30-50% of a real web
    corpus), so the build-side choice belongs to AQE's measured sizes
    (the near_dedup_minhash / near_dedup_videos discipline).
    near_dedup_images/audio delegate to simhash_near_dedup, so this
    pin covers the whole SimHash media family."""
    from bigdata_quality_assessment_spark.operators.text import (
        exact_dedup,
        simhash_near_dedup,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    from bigdata_quality_assessment_spark.operators.text import drop_contaminated

    for out in (
        simhash_near_dedup(docs, two_level=False),
        simhash_near_dedup(docs, two_level=True),
        exact_dedup(docs),
    ):
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in plan, plan

    # round-15: the contamination-shaped flagged-id set is only
    # soft-bounded (eval-set mirrors in a crawl), so its anti-join is
    # unhinted too. decontaminate's INTERNAL benchmark-gram broadcast
    # (genuinely benchmark-bounded) is the single hint allowed in the
    # drop_contaminated plan.
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "qid long, text string"
    )
    plan = (
        drop_contaminated(docs, bench, k=2)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert plan.count("ResolvedHint") == 1, plan


def test_simhash_two_level_auto_switches_on_count(spark, monkeypatch):
    """two_level='auto' (the round-14 default) engages the nested
    (band, sub-band) regime exactly at TWO_LEVEL_AUTO_THRESHOLD
    signatures, with survivor identity across the boundary (the
    nested-pigeonhole completeness the explicit-bool test pins).
    Engagement is observed structurally: only the two-level key
    construction packs bands with shiftleft."""
    from bigdata_quality_assessment_spark.operators import text as T

    base = "the quick brown fox jumps over the lazy dog near the river "
    rows = [
        (0, base * 3),
        (1, base * 3),
        (2, base * 3 + "extra tail token"),
        (3, "completely different content about spark catalyst plans"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def _plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    # cluster=False keeps the band join visible in the analyzed plan
    # (the closure tier's localCheckpoint collapses it to a LogicalRDD)
    monkeypatch.setattr(T, "TWO_LEVEL_AUTO_THRESHOLD", 5)
    below = T.simhash_near_dedup(docs, two_level="auto", cluster=False)
    assert "shiftleft" not in _plan(below)                 # 4 < 5
    monkeypatch.setattr(T, "TWO_LEVEL_AUTO_THRESHOLD", 4)
    at = T.simhash_near_dedup(docs, two_level="auto", cluster=False)
    assert "shiftleft" in _plan(at)                        # 4 >= 4
    below_ids = sorted(r["doc_id"] for r in below.collect())
    at_ids = sorted(r["doc_id"] for r in at.collect())
    assert below_ids == at_ids
    assert 0 in below_ids and 1 not in below_ids  # exact copy collapses

    import pytest

    with pytest.raises(ValueError, match="two_level"):
        T.simhash_near_dedup(docs, two_level="bogus")


def test_simhash_auto_evaluates_caller_signatures_once(spark):
    """Round-15 (ADVICE): two_level='auto' runs an extra count() action
    before the band join; a caller-provided UNcheckpointed signatures
    frame must not have its full derivation executed twice for it (the
    operator inserts a lazy barrier; already-checkpointed frames are
    left alone). Evaluation count is observed with an accumulator
    inside the signature derivation."""
    import pandas as pd

    from bigdata_quality_assessment_spark.operators.text import (
        simhash,
        simhash_near_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(8)],
        "doc_id long, text string",
    )
    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    sig = simhash(docs).mapInPandas(tap, "doc_id long, simhash long")
    out = simhash_near_dedup(docs, signatures=sig, two_level="auto")
    out.collect()
    # derivation ran exactly once: 8 signature rows tapped, not 16+
    assert acc.value == 8
