"""Text-analysis and deduplication operators for large-scale
training-data pipelines (engine extension; SURVEY.md §7.4 items 2/4).

These extend the reference's T5 exact dedup
(/root/reference/SDE_forecast_ActiveSampling.py:134-135) to the
operators a 100 TB text corpus actually needs: exact dedup by content
hash, MinHash-LSH banded near-dedup (bucket → candidate pairs — never
all-pairs), SimHash, exact n-gram Jaccard (the small-scale oracle for
the LSH path), language-ID, quality scoring, token counting, and
rolling-hash document fingerprinting.

Everything is built from JVM-side expressions (higher-order functions
over arrays, xxhash64) — no Python UDFs anywhere, so the whole module
stays inside whole-stage codegen / vectorized evaluation and scales
linearly with the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import ensure_min_parallelism, id_ddl_type

# A deliberately tiny multilingual stopword lexicon — enough for a
# deterministic n-gram-free language heuristic that both Spark and the
# DuckDB oracle can evaluate identically.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr": ("le", "la", "les", "de", "et", "est", "un", "une", "que", "pour"),
    "es": ("el", "la", "los", "de", "y", "es", "un", "una", "que", "por"),
}

TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# simhash_near_dedup(two_level="auto") engages the nested (band,
# sub-band) banding at this many signatures — the measured crossover
# where corpus/2^band_bits same-bucket candidates start to dominate
# (BASELINE.md rounds 12-13: 2M images 258.5 s single-level vs 70.3 s
# two-level; ≤100k the extra 4x explode costs more than it saves).
TWO_LEVEL_AUTO_THRESHOLD = 1_000_000


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokens (single-space split, the corpus convention)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def regex_tokens(text_col: Column | str) -> Column:
    """BPE-ish tokenization: letter runs, digit runs, single
    punctuation marks — ``regexp_extract_all``, JVM-side."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(c, F.lit(TOKEN_REGEX), 0)


def text_stats(
    docs: DataFrame,
    text_col: str = "text",
    extra: dict[str, Column] | None = None,
    keep: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document stats: char count, whitespace-token count,
    regex-token count, mean token length, punctuation ratio,
    uppercase ratio. ``extra`` appends additional named column
    expressions to the SAME projection — composites (quality_score)
    extend the one pass instead of self-joining a second scan."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    non_punct = F.length(F.regexp_replace(t, "[^A-Za-z0-9 ]", ""))
    non_upper = F.length(F.regexp_replace(t, "[A-Z]", ""))
    # Zero-length guards: Spark 4 runs ANSI mode by default, where
    # x/0 THROWS (not NULL) — empty documents must not kill the job.
    n_tok = F.size(toks)
    return docs.select(
        id_col,
        *(keep or []),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.size(regex_tokens(t)).alias("n_regex_tokens"),
        # Σ len(token) over split(" ") is exactly n_chars − n_spaces =
        # n_chars − (n_tok − 1): pure codegen arithmetic instead of an
        # interpreted O(tokens)-per-row aggregate fold (integer-exact,
        # so the graded oracle is unaffected)
        F.when(
            n_tok > 0,
            (n_chars - (n_tok - F.lit(1))) / n_tok,
        ).otherwise(F.lit(0.0)).alias("mean_token_len"),
        F.when(n_chars > 0, (n_chars - non_punct) / n_chars).otherwise(F.lit(0.0)).alias(
            "punct_ratio"
        ),
        F.when(n_chars > 0, (n_chars - non_upper) / n_chars).otherwise(F.lit(0.0)).alias(
            "upper_ratio"
        ),
        *[c.alias(name) for name, c in (extra or {}).items()],
    )


def stopword_ratio(text_col: Column, lexicon: tuple[str, ...]) -> Column:
    """Fraction of whitespace tokens found in ``lexicon`` —
    multiplicity counted.

    One compiled ``regexp_count`` pass over the lowered text instead
    of a per-token interpreted ``filter`` lambda (the lambda form
    evaluates |lexicon| comparisons per token through the expression
    interpreter; measured ~25% off language_id at sf1 with identical
    integer hit counts, so the graded oracle is unaffected). A token
    matches iff preceded by start-or-space and followed by
    space-or-end — exactly the split(" ") token boundaries; adjacent
    stopwords each keep their own leading separator, so consumption
    never misses a neighbor."""
    import re as _re

    # Contract: lexicon entries are lowercase single words. The
    # regexp_count pass matches case-insensitively against the lowered
    # text and an entry containing a space would match ACROSS token
    # boundaries — neither is what the per-token semantics promise, so
    # reject such lexicons instead of silently changing meaning.
    bad = [w for w in lexicon if w != w.lower() or " " in w or not w]
    if bad:
        raise ValueError(
            "stopword_ratio lexicon entries must be non-empty, lowercase, "
            f"and single-word (no spaces); offending entries: {bad[:5]}"
        )
    pat = (
        "(?:^| )(?:"
        + "|".join(_re.escape(w.lower()) for w in lexicon)
        + ")(?= |$)"
    )
    hits = F.regexp_count(F.lower(text_col), F.lit(pat))
    n = F.size(tokens(text_col))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def language_id(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Language-ID heuristic: stopword-hit ratio per language, argmax
    with deterministic lexicographic tie-break; 'und' (undetermined)
    when no lexicon scores above zero."""
    t = F.col(text_col)
    scored = docs.select(
        id_col,
        *[
            stopword_ratio(t, lex).alias(f"score_{lang}")
            for lang, lex in sorted(LANG_LEXICONS.items())
        ],
    )
    langs = sorted(LANG_LEXICONS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    # reversed: earlier (lexicographically smaller) languages win ties.
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.withColumn("lang_pred", pred)


def quality_score(
    docs: DataFrame,
    text_col: str = "text",
    keep: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Composite quality score in [0,1]: length in a sane band, low
    punctuation density, healthy mean token length, some stopwords —
    the C4/Gopher-style rule family as one Catalyst expression."""
    # ONE projection: sw_ratio rides the text_stats pass. (The old
    # form self-joined two projections of the same table on doc_id —
    # locally a broadcast, but at 100 TB a full shuffle of both sides
    # for what is a row-wise computation.)
    stats = text_stats(
        docs,
        text_col,
        extra={"sw_ratio": stopword_ratio(F.col(text_col), LANG_LEXICONS["en"])},
        keep=keep,
        id_col=id_col,
    )
    len_ok = F.when(F.col("n_chars").between(100, 20000), 1.0).otherwise(0.0)
    punct_ok = F.when(F.col("punct_ratio") <= 0.2, 1.0).otherwise(0.0)
    tok_ok = F.when(F.col("mean_token_len").between(2.0, 12.0), 1.0).otherwise(0.0)
    sw_ok = F.when(F.col("sw_ratio") >= 0.01, 1.0).otherwise(0.0)
    # ``keep``: extra doc columns carried through the SAME projection
    # (e.g. ``source`` for per-source curation) — no join-back scan
    return stats.select(
        id_col,
        *(keep or []),
        ((len_ok + punct_ok + tok_ok + sw_ok) / 4.0).alias("quality"),
    )


# --------------------------------------------------------------------
# Repetition + PII signals (Gopher/C4-style training-data filters)
# --------------------------------------------------------------------

# simple patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB),
# so the registry oracle can reproduce the counts bit-for-bit
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # \S (not [^ ]): the negated-space class matches newlines/tabs,
    # so a URL at end of line would swallow the next line's leading
    # word — tolerable for counting, data-destroying in redact_pii
    "n_urls": r"https?://\S+",
    "n_ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "n_phones": r"\+?\d{3}[- ]\d{3}[- ]\d{4}",
}


def pii_scan(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII indicator counts (emails / URLs / IPv4 /
    phone-shaped strings) — the redaction-triage signal a training-data
    pipeline runs before release. Pure ``regexp_extract_all``
    projection: JVM-side, whole-stage codegen, no shuffle; at 100 TB
    this is a narrow scan like the other text signals."""
    t = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("bigint").alias(name)
        for name, pat in PII_PATTERNS.items()
    ]
    out = docs.select(id_col, *counts)
    flag = None
    for name in PII_PATTERNS:
        c = F.col(name) > 0
        flag = c if flag is None else (flag | c)
    return out.withColumn("has_pii", flag)


# placeholder per PII class, applied in THIS order (emails before
# URLs so a mailto-ish tail cannot half-survive; URLs before IPs so a
# host IP inside a URL is already gone; placeholders contain no
# digits/@/scheme, so later patterns never match earlier replacements)
PII_PLACEHOLDERS = (
    ("n_emails", "<EMAIL>"),
    ("n_urls", "<URL>"),
    ("n_ipv4", "<IP>"),
    ("n_phones", "<PHONE>"),
)


def redact_pii(text_col: Column | str) -> Column:
    """Redact PII in place — every :data:`PII_PATTERNS` match becomes
    a typed placeholder (``<EMAIL>``/``<URL>``/``<IP>``/``<PHONE>``),
    the C4-style release step downstream of the :func:`pii_scan`
    triage. Pure ``regexp_replace`` chain: JVM-side, whole-stage
    codegen, zero shuffle, linear in bytes; the patterns are the same
    RE2-compatible ones the scan counts with, so ``pii_scan`` over
    ``redact_pii`` output reports zero remaining indicators (pinned in
    tests) and the DuckDB oracle reproduces the rewrite bit-for-bit
    (part='redact' of ``x_text_stats``)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for name, placeholder in PII_PLACEHOLDERS:
        c = F.regexp_replace(c, PII_PATTERNS[name], placeholder)
    return c


def ngram_repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "auto",
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    * ``n_words``          — whitespace token count;
    * ``dup_word_frac``    — 1 − distinct/total words (word reuse);
    * ``top_bigram_frac``  — occurrences of the single most frequent
      bigram over all bigram occurrences;
    * ``dup_trigram_frac`` — fraction of trigram occurrences whose
      trigram appears more than once.

    High values mark the boilerplate/template/spam band that
    repetition filters (Rae et al., Gopher §A1.2; C4) drop.

    ``impl`` (round 9, the text-family HOF sweep): the production
    default is ONE Arrow pass — per document, Counter-based 1/2/3-gram
    tallies with the four ratios computed from the same integers
    (measured 38.6 s → 0.9 s at sf1; the Catalyst form builds every
    gram string through an interpreted transform lambda and shuffles
    (doc, n, gram)-count rows through two aggregations). The stats are
    integer-count ratios, so the two paths are value-IDENTICAL
    (equality test incl. empty/NULL/multi-space docs); ``impl="sql"``
    keeps the Catalyst shape the DuckDB twin replays. NULL-text docs
    produce no output row on either path.
    """
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be auto|arrow|sql, got {impl!r}")
    if impl != "sql":
        from .partitioning import ensure_min_parallelism, id_ddl_type

        def gen(batches):
            from collections import Counter

            import pandas as pd

            for pdf in batches:
                out = {
                    id_col: [], "n_words": [], "dup_word_frac": [],
                    "top_bigram_frac": [], "dup_trigram_frac": [],
                }
                for did, txt in zip(pdf[id_col], pdf[text_col]):
                    if txt is None:
                        continue  # fold path: explode(NULL) drops the doc
                    toks = txt.split(" ")  # keeps empties, like F.split
                    n = len(toks)
                    c2 = Counter(
                        " ".join(toks[i : i + 2]) for i in range(n - 1)
                    )
                    c3 = Counter(
                        " ".join(toks[i : i + 3]) for i in range(n - 2)
                    )
                    g2_total, g3_total = max(n - 1, 0), max(n - 2, 0)
                    g2_top = max(c2.values()) if c2 else 0
                    g3_dup = sum(c for c in c3.values() if c > 1)
                    out[id_col].append(did)
                    out["n_words"].append(n)
                    out["dup_word_frac"].append(
                        (n - len(set(toks))) / n if n > 0 else 0.0
                    )
                    out["top_bigram_frac"].append(
                        g2_top / g2_total if g2_total > 0 else 0.0
                    )
                    out["dup_trigram_frac"].append(
                        g3_dup / g3_total if g3_total > 0 else 0.0
                    )
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(out[id_col], dtype=pdf[id_col].dtype),
                        "n_words": pd.Series(out["n_words"], dtype="int64"),
                        "dup_word_frac": pd.Series(
                            out["dup_word_frac"], dtype="float64"
                        ),
                        "top_bigram_frac": pd.Series(
                            out["top_bigram_frac"], dtype="float64"
                        ),
                        "dup_trigram_frac": pd.Series(
                            out["dup_trigram_frac"], dtype="float64"
                        ),
                    }
                )

        base = ensure_min_parallelism(docs.select(id_col, text_col))
        return base.mapInPandas(
            gen,
            schema=(
                f"{id_col} {id_ddl_type(docs, id_col)}, n_words long, "
                "dup_word_frac double, top_bigram_frac double, "
                "dup_trigram_frac double"
            ),
        )
    words = F.split(F.col(text_col), " ")

    def grams(n: int) -> Column:
        if n == 1:
            return words
        return F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(words, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def tagged(n: int) -> Column:
        return F.transform(
            grams(n), lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))
        )

    exploded = docs.select(
        id_col, F.explode(F.concat(tagged(1), tagged(2), tagged(3))).alias("t")
    ).select(id_col, F.col("t.n").alias("n"), F.col("t.gram").alias("gram"))
    counts = exploded.groupBy(id_col, "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    n_, c = F.col("n"), F.col("c")
    agg = counts.groupBy(id_col).agg(
        F.sum(F.when(n_ == 1, c)).alias("__w_total"),
        F.sum(F.when(n_ == 1, 1)).alias("__w_distinct"),
        F.sum(F.when(n_ == 2, c)).alias("__g2_total"),
        F.max(F.when(n_ == 2, c)).alias("__g2_top"),
        F.sum(F.when(n_ == 3, c)).alias("__g3_total"),
        F.sum(F.when((n_ == 3) & (c > 1), c)).alias("__g3_dup"),
    )
    # ANSI mode: guard every ratio against empty/short docs
    def ratio(num: Column, den: Column) -> Column:
        return F.when(den > 0, num / den).otherwise(F.lit(0.0))

    return agg.select(
        id_col,
        F.coalesce("__w_total", F.lit(0)).alias("n_words"),
        ratio(
            F.coalesce("__w_total", F.lit(0)) - F.coalesce("__w_distinct", F.lit(0)),
            F.coalesce("__w_total", F.lit(0)),
        ).alias("dup_word_frac"),
        ratio(F.coalesce("__g2_top", F.lit(0)), F.coalesce("__g2_total", F.lit(0))).alias(
            "top_bigram_frac"
        ),
        ratio(F.coalesce("__g3_dup", F.lit(0)), F.coalesce("__g3_total", F.lit(0))).alias(
            "dup_trigram_frac"
        ),
    )


def chunk_text(
    docs: DataFrame,
    max_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pre-tokenization sharding for LLM training data (context
    packing happens downstream). Chunk starts advance by
    ``max_tokens - overlap``; a start is emitted while it still
    contributes tokens not covered by the previous chunk, so tails
    shorter than ``overlap`` never produce a fully-subsumed chunk.

    Output: ``(id, chunk_id, n_chunk_tokens, chunk)`` — one row per
    chunk via ``posexplode`` over a computed start sequence; pure
    Catalyst (split/slice/concat_ws), no UDF, no shuffle. At 100 TB
    this is a narrow 1→N flatMap whose output feeds a tokenizer."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    words = F.split(F.col(text_col), " ")
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(F.size(words) - max_tokens, F.lit(0)) / F.lit(stride)
    ).cast("int")
    exploded = docs.select(
        id_col,
        words.alias("__w"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "__s"),
    )
    piece = F.slice(F.col("__w"), F.col("__s") * stride + 1, max_tokens)
    return exploded.select(
        id_col,
        "chunk_id",
        F.size(piece).alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk"),
    )


# --------------------------------------------------------------------
# Fingerprinting
# --------------------------------------------------------------------

_FP_MOD = 1_000_000_007


def rolling_hashes(text_col: Column, k: int = 8) -> Column:
    """Array of polynomial rolling hashes over the char k-grams of the
    text: ``h(i) = fold_j (acc·31 + ascii(text[i+j])) mod 1e9+7`` —
    deterministic integer arithmetic reproducible in ANSI SQL."""
    n = F.length(text_col)
    body = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(0).cast("bigint"),
            lambda acc, j: (acc * 31 + F.ascii(F.substring(text_col, i + j, 1))) % _FP_MOD,
        ),
    )
    return F.when(n >= k, body).otherwise(F.array().cast("array<bigint>"))


def doc_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    mod_p: int = 16,
    impl: str = "auto",
) -> DataFrame:
    """Document fingerprint set: the distinct rolling k-gram hashes
    selected by 0-mod-p sampling (the hash-sampling variant of
    winnowing) — long format ``(doc_id, fp BIGINT)``.

    ``impl`` (round 9, the text-family HOF sweep): the production
    default is ONE Arrow pass — per document, the polynomial hash of
    every char k-gram as a vectorized Horner fold with a per-step mod
    (exact in int64 for any k), with the 0-mod-p filter applied
    numpy-side so only surviving (id, fp) rows materialize. The Catalyst form (:func:`rolling_hashes`,
    ``impl="sql"``) evaluates an interpreted k-step fold lambda PER
    CHARACTER (~8·n_chars lambda dispatches/row — measured 22× slower
    at sf1, PLANS.md). The hash is pure INTEGER arithmetic, so the two
    paths are bit-identical (pinned by test + the graded
    x_doc_fingerprints twin passes against either)."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be auto|arrow|sql, got {impl!r}")
    if impl == "sql":
        t = F.col(text_col)
        return (
            docs.select(
                "doc_id", F.explode(rolling_hashes(t, k)).alias("fp")
            )
            .filter(F.col("fp") % mod_p == 0)
            .distinct()
        )

    from .partitioning import ensure_min_parallelism, id_ddl_type

    def gen(batches):
        import numpy as np
        import pandas as pd

        # Horner fold with a per-step mod, vectorized across all
        # windows (k passes of multiply-add-mod over a length-(n-k+1)
        # vector). Intermediate max is (1e9+6)·31 + 0x10FFFF < 2^35,
        # so the arithmetic is exact in int64 for ANY k — bit-identical
        # to the SQL fold (a single matmul-then-mod overflows int64
        # once k·log2(31)+log2(maxcp) exceeds 63, i.e. k>=10 for high
        # codepoints).
        for pdf in batches:
            ids, fps = [], []
            for did, txt in zip(pdf["doc_id"], pdf[text_col]):
                if txt is None or len(txt) < k:
                    continue
                arr = np.fromiter(map(ord, txt), dtype="int64", count=len(txt))
                m = len(arr) - k + 1
                h = np.zeros(m, dtype="int64")
                for j in range(k):
                    h = (h * 31 + arr[j : j + m]) % _FP_MOD
                keep = np.unique(h[h % mod_p == 0])
                if len(keep):
                    ids.extend([did] * len(keep))
                    fps.append(keep)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                    "fp": np.concatenate(fps)
                    if fps
                    else pd.Series([], dtype="int64"),
                }
            )

    base = ensure_min_parallelism(docs.select("doc_id", text_col))
    id_t = id_ddl_type(docs, "doc_id")
    # np.unique dedups within each doc and a doc never splits across
    # batches — no distinct() shuffle needed (the fold path explodes
    # duplicate hashes and must dedup)
    return base.mapInPandas(gen, schema=f"doc_id {id_t}, fp long")


# --------------------------------------------------------------------
# Dedup family
# --------------------------------------------------------------------


def _shingle_expr(t: Column, k: int, mode: str) -> Column:
    """Array of k-shingles of ``t`` — EMPTY when the doc is shorter
    than k or NULL (``F.sequence(1, 0)`` would count DOWN, so the
    upper bound is guarded and the whole expression gated on length).

    The token array (word mode) or the text (char mode) is bound ONCE
    per row as a lambda variable — ``flatten(transform(array(src),
    body))`` — and the per-shingle lambda reads that variable. Catalyst
    does not reuse a common subexpression across a lambda boundary, so
    referring to ``split(t)`` inside the per-shingle lambda would
    re-split (and re-evaluate any inlined upstream expression such as
    ``normalize_text``) once per shingle: O(tokens²) per document."""
    if mode not in ("word", "char"):
        raise ValueError(f"mode must be 'word' or 'char', got {mode!r}")
    word = mode == "word"

    def shingles(s: Column) -> Column:
        n = F.size(s) if word else F.length(s)
        body = F.transform(
            F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(s, i, k)) if word else F.substring(s, i, k),
        )
        return F.when(n >= k, F.array_distinct(body)).otherwise(
            F.array().cast("array<string>")
        )

    return F.flatten(F.transform(F.array(tokens(t) if word else t), shingles))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content: keep the lowest-id document per distinct
    text. The DROP-id set is derived from a ``(digest, id)``-ONLY
    projection — ``groupBy(md5(text)).agg(min(id))``, join back on the
    digest, keep ids above the minimum — so every exchange carries
    40-odd bytes per row, never the document bodies (``min`` is also
    map-side combined, which a ``row_number`` window cannot be). The
    corpus itself carries bodies through at most the anti-join
    exchange: the drop set joins UNHINTED (round-14) — web crawls run
    30-50 % exact-duplicate, which makes the drop set corpus-shaped,
    and a forced broadcast of a corpus-shaped frame is a
    driver/executor OOM at 10⁹ docs. AQE broadcasts measured-small
    drop sets on its own, so the benign-corpus plan is unchanged
    (same discipline as :func:`near_dedup_minhash` /
    :func:`simhash_near_dedup`).

    The slim projection sits behind a lazy barrier: it is referenced
    twice (min aggregate + join-back), and without the barrier each
    reference re-scans the corpus and re-hashes every body. With it
    the digest pass runs ONCE (stores 40 B/row), both consumers read
    the stored rows (executed-plan scan count pinned in
    tests/test_scan_discipline.py)."""
    slim = docs.select(
        F.md5(F.col(text_col)).alias("__h"), F.col(id_col)
    ).localCheckpoint(eager=False)
    mins = slim.groupBy("__h").agg(F.min(id_col).alias("__keep"))
    drops = (
        slim.join(mins, "__h")
        .filter(F.col(id_col) != F.col("__keep"))
        .select(id_col)
    )
    return docs.join(drops, id_col, "left_anti")


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    mode: str = "word",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct k-shingles per document, long format
    ``(doc_id, shingle)``. ``mode='word'``: k-token grams joined by a
    space; ``mode='char'``: k-char substrings."""
    sh = _shingle_expr(F.col(text_col), k, mode)
    return ensure_min_parallelism(docs.select(id_col, text_col)).select(
        id_col, F.explode(sh).alias("shingle")
    )


def jaccard_pairs(
    shingled: DataFrame, min_jaccard: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for every pair sharing ≥1 shingle:
    equi-join on shingle → per-pair intersection counts → sizes →
    ``J = |∩| / (|A|+|B|−|∩|)``. Returns
    ``(doc_a, doc_b, n_common, n_a, n_b, jaccard)`` with doc_a<doc_b.

    This is the ORACLE for the LSH path: exact, integer-counted,
    reproducible in SQL. At corpus scale the shared-shingle join blows
    up on hot shingles — use ``minhash_lsh_candidates`` there and keep
    this for verification of candidate pairs only.
    """
    # sizes + both join sides reference ``shingled`` — barrier it so
    # the shingling computes once (see near_dedup_minhash for the
    # measured pathology).
    shingled = shingled.localCheckpoint(eager=False)
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingled.select(F.col(id_col).alias("doc_a"), "shingle")
    b = shingled.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return out.select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 128,
    mode: str = "word",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures: ``sig[i] = min over shingles of
    xxhash64(i, base_hash(shingle))``.

    Shape chosen for scale AND single-evaluation: each shingle's
    (expensive) string hash is computed ONCE via explode, then the
    n_hashes lanes are cheap integer re-hashes inside one map-side-
    combined aggregation (n_hashes ``min`` lanes, built by
    :func:`_minhash_fold` as one parsed SQL expression — as PySpark
    Columns the 128 lanes cost 0.3-1 s of driver time per call). A nested
    higher-order-function formulation re-evaluates the shingle array
    per lane — Catalyst does not CSE across lambda boundaries — which
    is n_hashes× the string work; the explode+groupBy shuffle moves
    only pre-aggregated (doc, 128 mins) rows and parallelizes cleanly.

    Docs shorter than k shingle into nothing and drop out — they
    cannot be near-duplicates, and an all-null signature would collide
    every short doc into every LSH bucket (candidate-pair explosion).
    """
    shingles = _shingle_expr(F.col(text_col), k, mode)
    base = ensure_min_parallelism(docs.select(id_col, text_col)).select(
        id_col, F.explode(F.transform(shingles, lambda s: F.xxhash64(s))).alias("__h")
    )
    return _minhash_fold(base, id_col, n_hashes)


def minhash_band_keys(
    signatures: DataFrame, bands: int = 32, id_col: str = "doc_id"
) -> DataFrame:
    """Long-format LSH band keys ``(id, band, bucket)`` for a MinHash
    signature frame — the ONE banding/bucketing expression shared by
    the self-join dedup, the cross-corpus fuzzy decontamination, and
    the streaming ingest state store (a band-arithmetic fix lands in
    all three)."""
    return signatures.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(
                            F.col("sig"),
                            b * (F.size(F.col("sig")) / bands).cast("int") + 1,
                            (F.size(F.col("sig")) / bands).cast("int"),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 32, id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` bands of
    ``r = n_hashes/bands`` rows, hash each band, and emit every pair
    of docs sharing a (band, band_hash) bucket — the candidate set is
    produced by an equi-join on the bucket key, NEVER an all-pairs
    product. Returns distinct ``(doc_a, doc_b)`` with doc_a<doc_b.

    ``materialize`` (round-16): EAGERLY checkpoint the band-key frame
    before the self-join. Both join sides derive from it, and the
    executed sf0.1 plan showed the full upstream signature fold (the
    128-min aggregation) running ONCE PER SIDE — broadcast-side
    planning defeats ReuseExchange, and a lazy barrier's cache
    semantics let concurrent cold readers race into recompute. The
    eager barrier stores ~20 B × bands per doc and pins exactly one
    fold execution; it runs a job at call time, so it is opt-in for
    this otherwise-lazy builder (near_dedup_minhash opts in)."""
    buckets = minhash_band_keys(signatures, bands, id_col)
    if materialize:
        buckets = buckets.localCheckpoint(eager=True)
    a = buckets.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# Mersenne prime modulus for the PINNED MinHash lane family
# (a·(h ⊕ c) + b) mod P over 48-bit md5-derived shingle hashes:
# a < 2^13 and h ⊕ c < 2^48 keep every product inside BIGINT, and the
# whole pipeline — hash, xor, lanes, min — is exact integer arithmetic
# both engines can run. The per-lane XOR constant c is what makes the
# lanes distinct minwise orders: a·x+b never exceeds P at these
# operand bounds, so the mod is the identity and the bare affine is
# MONOTONE in its input — without the xor every lane's min() would
# select the same argmin(h) shingle, collapsing the family to a
# single permutation (all-or-nothing band collisions).
MINHASH_P = (1 << 61) - 1


def _md5_48(col):
    """48-bit BIGINT from the md5 hex prefix — the SQL-expressible
    shingle hash for the pinned MinHash variant (DuckDB twin:
    ('0x' || substring(md5(s), 1, 12))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _minhash_fold(
    hashes: DataFrame,
    id_col: str,
    n_hashes: int,
    lane_params: list[tuple[int, int, int]] | None = None,
) -> DataFrame:
    """``(id, sig)`` from long-format ``(id, __h)`` shingle hashes:
    lane i is ``min(xxhash64(i, __h))`` or, with ``lane_params``,
    ``min((aᵢ·(__h ⊕ cᵢ) + bᵢ) mod MINHASH_P)`` (which overrides
    ``n_hashes``), all lanes in one map-side-combined aggregate.

    The aggregate is ONE SQL expression parsed on the JVM: built as
    PySpark Columns, 128 lanes cost 0.3-1 s of driver py4j round-trips
    per call on a 4-core host, against 17-50 ms parsed. Integer literals
    keep the Column API's SQL typing — ``i``, ``a`` and ``b`` are INT,
    ``c`` INT or BIGINT by magnitude — so every lane value is the
    same."""
    if lane_params is None:
        lanes = [f"min(xxhash64({i}, `__h`))" for i in range(n_hashes)]
    else:
        lanes = [
            f"min((({a} * (`__h` ^ {c})) + {b}) % {MINHASH_P})"
            for a, b, c in lane_params
        ]
    return hashes.groupBy(id_col).agg(
        F.expr(f"array({', '.join(lanes)})").alias("sig")
    )


def near_dedup_minhash(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 128,
    bands: int = 16,
    min_jaccard: float = 0.8,
    mode: str = "word",
    id_col: str = "doc_id",
    cluster: bool = True,
    lane_params: list[tuple[int, int, int]] | None = None,
) -> DataFrame:
    """Near-dedup: LSH candidates → exact-Jaccard verification on the
    candidate pairs only → connected-components closure over the
    verified-pair graph; keep exactly the minimum id of each duplicate
    cluster. Returns the surviving documents.

    ``cluster=False`` reverts to the pairwise rule (drop the higher
    member of each direct pair), which leaves transitive chains behind
    — for edges (1,3),(2,3) doc 2 would survive although it is in doc
    1's cluster.

    Scale shape: signatures are one narrow pass; the bucket join's
    fan-out is bounded by band collision rates; verification touches
    candidate pairs only (each a set intersection of two shingle
    sets, computed by re-joining the shingle table on the pair list);
    the closure iterates over the duplicates-only edge list (see
    operators/graph.py).

    ``lane_params`` pins the signature family for the oracle-graded
    variant (same pattern as the pinned ANN planes): shingles hash via
    the 48-bit md5 prefix and lane i is ``min((aᵢ·(h ⊕ cᵢ) + bᵢ) mod
    MINHASH_P)`` — exact integer arithmetic a SQL oracle can recompute
    (xxhash64, the production default, is not SQL-expressible). The
    per-lane xor constant supplies the lane's minwise order (see the
    MINHASH_P comment — the bare affine never wraps P and would
    degenerate to one permutation). Its length overrides ``n_hashes``.
    Everything downstream (banding, candidate join, Jaccard verify,
    closure) is byte-identical code.
    """
    from bigdata_quality_assessment_spark.operators.graph import duplicate_drop_ids
    # ONE shingling pass feeds everything. Signatures, set sizes, and
    # BOTH verify sides all need the per-doc distinct shingle hashes;
    # as separate subtrees each reference re-executes the (expensive:
    # tokenize + k-gram + hash) shingling scan — four corpus scans per
    # action, and the dominant noise amplifier in the bench. The
    # barrier stores the narrow ``(doc_id, hash BIGINT)`` long format
    # (16 bytes/shingle, MEMORY_AND_DISK — comparable to the text it
    # came from and far cheaper than 4× regex work at 100 TB); every
    # consumer then reads stored longs. Verification intersects HASHED
    # shingles, not strings: identical counts up to 64-bit xxhash64
    # collisions (P ≈ |sh_a|·|sh_b|/2⁶⁴ per pair — immaterial against
    # an 0.8 Jaccard threshold), with long join keys instead of string
    # shingles on the wire. The string-exact path remains
    # ``jaccard_pairs`` (the SQL oracle).
    sh = _shingle_expr(F.col(text_col), k, mode)
    shingle_hash = _md5_48 if lane_params is not None else F.xxhash64
    # EAGER, not lazy (round-16): the first action over this operator
    # is one big job (the closure's edge-sizing count) in which FIVE
    # subtrees read this barrier — the fold feeding both band-join
    # sides, the sizes aggregate, and both verify sides. A lazy
    # barrier has cache semantics per partition, so those subtrees'
    # concurrent stages RACE on the cold blocks and each recomputes
    # the shingle+tokenize+hash scan it finds unmaterialized — at sf10
    # the measured end-to-end swung 41.7→186 s across identical runs
    # while the same stages off a pre-materialized table summed to
    # ~28 s. The eager checkpoint runs the scan exactly once at call
    # time; every consumer then reads stored rows (same discipline
    # loop.py documents for its scored pool).
    hashes = ensure_min_parallelism(docs.select(id_col, text_col)).select(
        id_col, F.explode(F.transform(sh, lambda s: shingle_hash(s))).alias("__h")
    ).localCheckpoint(eager=True)
    # one parsed SQL aggregate for all lanes: built per Column, the
    # 128-lane fold costs 0.3-1 s of driver time per call
    sigs = _minhash_fold(hashes, id_col, n_hashes, lane_params)
    cands = minhash_lsh_candidates(sigs, bands, id_col, materialize=True)
    # separate light count agg — the sizes path must not re-run the
    # 128-lane min aggregation it doesn't need
    sizes = hashes.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # Verify only candidate pairs — and keep every intermediate bounded
    # by |candidates|, not by hot-shingle fan-out: expand each candidate
    # pair by doc_a's shingles, then semi-match doc_b's. Joining the two
    # shingle tables first (then filtering to candidates) explodes on
    # corpora with skewed shingle frequencies long before the filter.
    a = hashes.select(F.col(id_col).alias("doc_a"), "__h")
    b = hashes.select(F.col(id_col).alias("doc_b"), "__h")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "__h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    verified = (
        inter.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .filter(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            >= min_jaccard
        )
    )
    if cluster:
        drop_ids = duplicate_drop_ids(verified).select(F.col("id").alias(id_col))
    else:
        drop_ids = verified.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(drop_ids, id_col, "left_anti")


def _simhash_bits(hash_fn: str) -> int:
    if hash_fn == "xxhash64":
        return 64
    if hash_fn == "md5_48":
        return 48
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5_48', got {hash_fn!r}")


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    mode: str = "word",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash: per bit j, sum ±1 votes of every shingle's
    ``xxhash64`` bit j; the sign pattern packs into one BIGINT.
    Near-duplicates land within small Hamming distance — bucket by
    16-bit chunks for candidate generation (4 tables, any exact chunk
    match is a candidate).

    ``hash_fn='md5_48'`` is the PINNED 48-bit variant (md5-prefix
    shingle hash, bits 0-47): every vote, the packed signature, and
    the downstream Hamming dedup become exact integer arithmetic a
    SQL oracle can recompute (see x_simhash_near_dedup); xxhash64
    stays the production default.

    Same explode+aggregate shape as ``minhash_signatures``: each
    shingle is hashed once, the bit-votes are map-side-combined sums
    (an n_bits-fold array ``aggregate`` would re-evaluate the
    shingle+hash array per bit — Catalyst does not CSE across lambda
    boundaries)."""
    n_bits = _simhash_bits(hash_fn)
    hfn = _md5_48 if hash_fn == "md5_48" else F.xxhash64
    shingles = _shingle_expr(F.col(text_col), k, mode)
    base = ensure_min_parallelism(docs.select(id_col, text_col)).select(
        id_col, F.explode(F.transform(shingles, lambda s: hfn(s))).alias("__h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{j}")
        for j in range(n_bits)
    ]
    wide = base.groupBy(id_col).agg(*votes)
    packed = F.lit(0).cast("bigint")
    for j in range(n_bits):
        packed = packed + F.when(
            F.col(f"__v{j}") > 0, F.lit(1 << j if j < 63 else -(1 << 63)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return wide.select(id_col, packed.alias("simhash"))


def simhash_near_dedup(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    mode: str = "word",
    max_hamming: int = 3,
    id_col: str = "doc_id",
    cluster: bool = True,
    signatures: DataFrame | None = None,
    hash_fn: str = "xxhash64",
    two_level: bool | str = "auto",
) -> DataFrame:
    """SimHash near-dedup: signatures → 4 equal band buckets →
    exact Hamming verify (``bit_count(a XOR b)``) → connected-
    components closure; keep the minimum id of each duplicate cluster
    (``cluster=False``: pairwise higher-id drop, which misses
    transitive chains). Returns the surviving rows of ``docs``.
    ``hash_fn`` selects the signature family (see :func:`simhash`;
    band width follows: 16-bit bands for 64-bit xxhash64 signatures,
    12-bit for the pinned 48-bit md5 variant) — pass the SAME value
    used to build ``signatures`` when precomputing.

    Completeness: with ``max_hamming ≤ 3`` and 4 bands, any pair within
    the threshold differs in at most 3 bits, so by pigeonhole at least
    one band matches EXACTLY — the band equi-join misses no
    qualifying pair (same banding argument as MinHash-LSH, but exact).
    Candidate volume per band key ≈ corpus/2^band_bits; the signature frame is
    (id, BIGINT) — the equi-join never carries document text. The drop
    set joins UNHINTED (round-14): on a real web-media corpus the
    perceptual-duplicate set is 30-50 % of ALL rows — corpus-shaped,
    not dimension-shaped — so the broadcast-vs-shuffle choice belongs
    to AQE's measured sizes, exactly the discipline
    :func:`near_dedup_minhash` and :func:`near_dedup_videos` apply; a
    forced broadcast here is a driver/executor OOM at 10⁹ images (this
    operator backs the whole SimHash media-dedup family).

    ``two_level=True`` is the SCALE regime for the band join (round-13
    — retires the measured 2M-image n²/2¹⁶ candidate ceiling,
    BASELINE.md round-12): each of the 4 primary bands is additionally
    keyed by each of 4 equal SUB-BANDS of the remaining bits, giving
    16 keys/signature over a 2^(band_bits + band_bits·3/4) key space
    (2²⁸ for 64-bit signatures vs 2¹⁶ single-level — 2¹²× fewer
    same-bucket collisions in the uniform worst case). Completeness is
    preserved by a nested pigeonhole: a qualifying pair (≤ 3 differing
    bits) has some primary band exact, and its ≤ 3 errors all lie in
    that band's REMAINING bits, which split into 4 disjoint sub-bands
    — so at least one (band, sub-band) key matches exactly. Same
    verify, same verified pair set, 4× the (16-byte) explode rows;
    it wins when corpus/2^band_bits candidate pairs dominate the
    runtime (≳10⁶ signatures), loses for small corpora where the extra
    explode outweighs the collision savings. ``two_level="auto"`` (the
    round-14 default, mirroring the embedding family's count-driven
    two-regime CASE in similarity.py): count the signature frame —
    which ALSO materializes its lazy barrier exactly once, a job the
    first join action would have run anyway — and engage the nested
    regime at ≥ ``TWO_LEVEL_AUTO_THRESHOLD`` (10⁶) signatures, so a
    direct ``near_dedup_images(media)`` at 20M images gets the scale
    regime without caller knowledge. Pass an explicit bool to pin
    either regime (identity across the boundary is pytest-pinned).

    ``signatures``: optional precomputed ``simhash(docs, ...)`` frame —
    pass it when the caller ALSO consumes the signatures so the
    shingling + 64-vote pass runs once, not once per consumer. Put an
    EAGER ``localCheckpoint(eager=True)`` on it, as this function does
    for the signatures it builds itself: the two band-join sides read
    the frame in one job and would race a lazy barrier's cold blocks
    into recomputing it (see the barrier comment below)."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("4x16-bit banding is complete only for max_hamming <= 3")
    # EAGER barrier on the (id, simhash) frame — 16 bytes/doc. The a/b
    # band self-join below otherwise re-executes the whole shingling +
    # 64-vote aggregation once per side: a LAZY barrier only protects
    # consumers that run after something materializes it, and with an
    # explicit two_level bool no sizing count runs first — the two
    # join sides then race the cold barrier into duplicate recompute
    # (round-16; the same racy-cold-cache pathology measured on
    # near_dedup_minhash's shingle table at sf10).
    if signatures is None:
        sig = simhash(docs, text_col, k, mode, id_col, hash_fn).localCheckpoint(
            eager=True
        )
    else:
        sig = signatures
    if two_level == "auto":
        if (
            signatures is not None
            and sig._jdf.queryExecution().logical().getClass().getSimpleName()
            != "LogicalRDD"
        ):
            # the auto count is an extra action over the caller's
            # frame; without a barrier an UNcheckpointed precomputed
            # frame would run its full derivation twice (count + band
            # join) — a silent regression vs two_level=False for
            # existing callers (round-15, ADVICE). Frames that already
            # sit on a checkpoint boundary (LogicalRDD — both lazy and
            # eager localCheckpoint produce one) are left alone so the
            # internal audio/image callers don't pay a second copy.
            sig = sig.localCheckpoint(eager=False)
        two_level = sig.count() >= TWO_LEVEL_AUTO_THRESHOLD
    elif not isinstance(two_level, bool):
        raise ValueError(f"two_level must be a bool or 'auto', got {two_level!r}")
    band_bits = _simhash_bits(hash_fn) // 4

    def _band(t: int):
        return F.shiftrightunsigned(F.col("simhash"), band_bits * t).bitwiseAND(
            F.lit((1 << band_bits) - 1)
        )

    if two_level:
        # nested pigeonhole (docstring): key (t, s) = primary band t
        # packed with sub-band s of the OTHER three bands' bits
        sub_bits = (3 * band_bits) // 4
        keys = []
        for t in range(4):
            rem = (
                _band((t + 1) % 4)
                .bitwiseOR(F.shiftleft(_band((t + 2) % 4), band_bits))
                .bitwiseOR(F.shiftleft(_band((t + 3) % 4), 2 * band_bits))
            )
            for s in range(4):
                sub = F.shiftrightunsigned(rem, sub_bits * s).bitwiseAND(
                    F.lit((1 << sub_bits) - 1)
                )
                keys.append(F.shiftleft(_band(t), sub_bits).bitwiseOR(sub))
        bands = F.array(*keys)
    else:
        bands = F.array(*[_band(t) for t in range(4)])
    sige = sig.select(
        F.col(id_col), F.col("simhash"), F.posexplode(bands).alias("__t", "__b")
    )
    a = sige.select(
        F.col(id_col).alias("__ida"), F.col("simhash").alias("__sa"), "__t", "__b"
    )
    b = sige.select(
        F.col(id_col).alias("__idb"), F.col("simhash").alias("__sb"), "__t", "__b"
    )
    verified = (
        a.join(b, ["__t", "__b"])
        .filter(F.col("__ida") < F.col("__idb"))
        .dropDuplicates(["__ida", "__idb"])
        .filter(
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))) <= max_hamming
        )
    )
    if cluster:
        from bigdata_quality_assessment_spark.operators.graph import duplicate_drop_ids

        dup = duplicate_drop_ids(verified, "__ida", "__idb").select(
            F.col("id").alias(id_col)
        )
    else:
        dup = verified.select(F.col("__idb").alias(id_col)).distinct()
    # unhinted: dup is corpus-shaped in the worst case (docstring); AQE
    # broadcasts measured-small drop sets on its own
    return docs.join(dup, id_col, "left_anti")


# --------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    mode: str = "word",
    min_hits: int = 1,
    hash_grams: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per training document, count the
    distinct k-grams it shares with an evaluation/benchmark corpus and
    flag documents at or above ``min_hits`` (the n-gram-collision
    decontamination test used for LLM training sets; extends the
    reference's T5 exact dedup, /root/reference/
    SDE_forecast_ActiveSampling.py:134-135, from self-duplicates to
    train/eval leakage).

    Returns ``(id_col, n_hits BIGINT, contaminated BOOLEAN)`` — one row
    per input document. Compose with a join-back to annotate, or use
    :func:`drop_contaminated` for the filtered corpus.

    100 TB shape: the benchmark side is aggregated to DISTINCT grams
    and broadcast (eval suites are ~10^6-10^7 grams — megabytes as
    64-bit hashes); the corpus side is a narrow shingle->explode
    projection feeding a broadcast semi-join, so the corpus is never
    shuffled and document bodies stay on their input partitions (an
    under-split local input is first widened once — see
    operators/partitioning.py — which is a no-op at real split counts).
    The per-doc hit aggregation sees only MATCHED grams — a sparse
    fraction of the exploded stream in any real (mostly-clean) corpus.
    ``hash_grams=True`` (default) joins on ``xxhash64(gram)`` so the
    broadcast table and wire rows carry 8-byte keys instead of k-word
    strings; ``hash_grams=False`` joins on the literal gram string —
    bit-identical to the ANSI-SQL formulation (the registry oracle uses
    it), and the two paths are pinned equal in tests/test_text.py."""
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1")
    gram = F.explode(_shingle_expr(F.col(text_col), k, mode)).alias("gram")
    key = (lambda c: F.xxhash64(c)) if hash_grams else (lambda c: c)
    bench_grams = (
        benchmark.select(gram).select(key(F.col("gram")).alias("__g")).distinct()
    )
    doc_grams = ensure_min_parallelism(docs.select(id_col, text_col)).select(
        F.col(id_col), gram
    ).select(id_col, key(F.col("gram")).alias("__g"))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count_distinct("__g").alias("n_hits"))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
    )


def drop_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    mode: str = "word",
    min_hits: int = 1,
) -> DataFrame:
    """The filtered corpus: ``docs`` minus documents sharing >=
    ``min_hits`` distinct k-grams with ``benchmark``. The flagged-id
    set is usually contamination-small, but eval-set mirrors in real
    crawls make "small" soft — so no forced broadcast hint (round-15
    taxonomy: corpus-conditional frames never carry one); AQE
    broadcasts it when its measured size allows and the anti-join
    then still leaves the corpus unshuffled."""
    flagged = decontaminate(
        docs, benchmark, text_col, id_col, k, mode, min_hits
    ).filter(F.col("contaminated")).select(id_col)
    return docs.join(flagged, id_col, "left_anti")


# --------------------------------------------------------------------
# Normalization
# --------------------------------------------------------------------


def normalize_text(
    text_col: Column | str,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
    strip_punct: bool = False,
) -> Column:
    """Canonical text normalization as ONE Catalyst expression chain —
    the pre-pass that makes exact/near dedup robust to trivial
    variants (case, runs of whitespace, stray control characters).
    Column-in/column-out so it composes into any operator's projection
    (e.g. ``exact_dedup(docs.withColumn("text", normalize_text("text")))``
    dedups case-insensitively) without an extra scan.

    Deliberately NOT unicode-NFC: Spark has no built-in normalizer and
    a per-row Python UDF would drop the whole text path out of
    codegen; byte-identical unicode variants are near-dedup's job."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if strip_control:
        c = F.regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    if strip_punct:
        c = F.regexp_replace(c, "[^\\p{L}\\p{N}\\s]", "")
    if lowercase:
        c = F.lower(c)
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, "\\s+", " "))
    return c


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 128,
    bands: int = 16,
    min_jaccard: float = 0.8,
    mode: str = "word",
    lane_params: list[tuple[int, int, int]] | None = None,
) -> DataFrame:
    """Cross-corpus near-duplicate decontamination: flag training
    documents whose shingle-set Jaccard with ANY benchmark/eval
    document reaches ``min_jaccard`` — the fuzzy tier above
    :func:`decontaminate` (exact n-gram collisions): it catches
    lightly-paraphrased or truncated eval leakage that shares few
    exact k-grams but most of its shingle set.

    Returns ``(id_col, matched_bench_id, jaccard)`` — one row per
    flagged training doc with its best-matching benchmark doc (ties →
    lowest bench id). Compose with an anti-join to drop.

    Shape: both sides get MinHash signatures (the benchmark once —
    eval suites are tiny); candidates come from an equi-join of the
    TRAIN band buckets against the BENCH band buckets (never
    train×bench); exact Jaccard verifies only the candidates. Unlike
    the self-join dedup, the bench bucket side broadcasts, so the
    training corpus's banded keys never shuffle.

    Size ``bands`` to the threshold: candidate recall for a pair at
    jaccard j is 1-(1-j^r)^bands with r = n_lanes/bands, where n_lanes
    is ``n_hashes`` (default 128) or, when ``lane_params`` is given,
    ``len(lane_params)`` — lane_params OVERRIDES n_hashes, exactly as
    in :func:`near_dedup_minhash`. With the default n_hashes=128 and
    16 bands, r=8 holds recall > 99% only for j >= 0.8; for thresholds
    near 0.5 use bands=32 (r=4, recall ~97% at j=0.57) — the curation
    pipeline's fuzzy tier defaults there. The ORACLE-graded call
    (part='fdecon' of x_doc_fingerprints) runs the 128 pinned lanes at
    bands=32 → r=4, matching its twin's ``lane // 4`` banding: much
    hotter band recall (>99.9% at j=0.8) and correspondingly more
    false candidates for the exact-Jaccard verify to reject — fine for
    tiny benchmark sides, but size bands down (e.g. bands=16, r=8) if
    a large bench side makes the candidate join expensive.

    ``lane_params`` pins the signature family exactly as in
    :func:`near_dedup_minhash` (48-bit md5 shingle hash + linear
    lanes; n_hashes is ignored in lane mode) — the ORACLE-graded
    variant (part='fdecon' of x_doc_fingerprints); since the Jaccard
    verify intersects STRING shingles and the ratio is
    integer-derived, the flagged set and best-match scores are
    integer-exact cross-engine."""

    def _sigs(frame: DataFrame) -> DataFrame:
        if lane_params is None:
            return minhash_signatures(frame, text_col, k, n_hashes, mode, id_col)
        sh = _shingle_expr(F.col(text_col), k, mode)
        hashes = frame.select(
            id_col, F.explode(F.transform(sh, lambda s: _md5_48(s))).alias("__h")
        )
        return _minhash_fold(hashes, id_col, n_hashes, lane_params)

    sig_d = _sigs(docs)
    sig_b = _sigs(benchmark)

    def band_keys(sig: DataFrame, out_id: str) -> DataFrame:
        return minhash_band_keys(sig, bands, id_col).withColumnRenamed(id_col, out_id)

    cand = (
        band_keys(sig_d, "__did")
        .join(F.broadcast(band_keys(sig_b, "__bid")), ["band", "bucket"])
        .select("__did", "__bid")
        .distinct()
    )
    sh_d = shingle_sets(docs, text_col, k, mode, id_col).select(
        F.col(id_col).alias("__did"), "shingle"
    )
    sh_b = shingle_sets(benchmark, text_col, k, mode, id_col).select(
        F.col(id_col).alias("__bid"), "shingle"
    )
    sizes_d = sh_d.groupBy("__did").agg(F.count(F.lit(1)).alias("__nd"))
    sizes_b = sh_b.groupBy("__bid").agg(F.count(F.lit(1)).alias("__nb"))
    inter = (
        sh_d.join(cand, "__did")
        .join(sh_b, ["__bid", "shingle"])
        .groupBy("__did", "__bid")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    scored = (
        inter.join(sizes_d, "__did")
        .join(F.broadcast(sizes_b), "__bid")
        .withColumn(
            "jaccard",
            F.col("__common") / (F.col("__nd") + F.col("__nb") - F.col("__common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    # best match = min over (-jaccard, bench_id): highest jaccard,
    # ties to the LOWEST bench id — type-agnostic in the id column
    # (struct ordering compares fields lexicographically)
    best = scored.groupBy("__did").agg(
        F.min_by(
            F.struct(F.col("__bid"), F.col("jaccard")),
            F.struct((-F.col("jaccard")).alias("nj"), F.col("__bid")),
        ).alias("__w"),
    )
    return best.select(
        F.col("__did").alias(id_col),
        F.col("__w.__bid").alias("matched_bench_id"),
        F.col("__w.jaccard").alias("jaccard"),
    )


def pack_sequences(
    chunks: DataFrame,
    max_tokens: int,
    token_count_col: str = "n_chunk_tokens",
    id_cols: tuple[str, str] = ("doc_id", "chunk_id"),
) -> DataFrame:
    """Sequence packing: assign token-counted chunks (the output of
    :func:`chunk_text`) to fixed-budget training sequences — the step
    that turns a curated corpus into the dense, padding-minimal
    batches an LLM trainer consumes.

    Greedy first-fit per partition: chunks are packed in (partition,
    input-order); a chunk that would overflow the current sequence
    opens a new one. Sequence ids are globally unique
    (``spark_partition_id * 2^40 + local_seq``) but assignment is
    partition-local BY DESIGN — cross-partition packing would impose a
    global sequential dependency (no parallelism at any scale), and
    the cost is bounded: at most one under-filled sequence per
    partition, negligible against millions of sequences per task at
    100 TB. Chunks larger than ``max_tokens`` get a sequence of their
    own (flagged ``oversize`` — the trainer's truncation decision, not
    ours).

    Returns the input columns plus ``seq_id BIGINT, seq_tokens BIGINT,
    oversize BOOLEAN`` where ``seq_tokens`` is the filled total of the
    chunk's sequence. One ``mapInPandas`` pass, zero shuffle."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(chunks.schema.fields)
        + [
            T.StructField("seq_id", T.LongType()),
            T.StructField("seq_tokens", T.LongType()),
            T.StructField("oversize", T.BooleanType()),
        ]
    )

    def pack(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        base = pid << 40
        seq_local = 0
        filled = 0
        open_seq = False
        totals: dict[int, int] = {}

        def finalize(fr):
            fr["seq_id"] = fr["__seq_local"] + base
            fr["seq_tokens"] = fr["__seq_local"].map(totals).astype("int64")
            fr["oversize"] = (
                fr[token_count_col].fillna(0).astype("int64") > max_tokens
            )
            return fr.drop(columns=["__seq_local"])

        # frames FLUSH as soon as none of their sequences is still
        # open (only the current open sequence's total is unknown), so
        # memory holds at most the frames spanning ONE open sequence —
        # never the whole partition
        held: list = []
        for pdf in batches:
            counts = pdf[token_count_col].fillna(0).astype("int64")
            seq_ids = []
            for c in counts:
                c = int(c)
                if c > max_tokens:
                    # oversize chunk: its own (flagged) sequence
                    seq_local += 1
                    totals[seq_local] = c
                    seq_ids.append(seq_local)
                    open_seq = False
                    continue
                if not open_seq or filled + c > max_tokens:
                    seq_local += 1
                    totals[seq_local] = 0
                    filled = 0
                    open_seq = True
                totals[seq_local] += c
                filled += c
                seq_ids.append(seq_local)
            out = pdf.copy()
            out["__seq_local"] = pd.Series(seq_ids, index=pdf.index, dtype="int64")
            held.append(out)
            open_id = seq_local if open_seq else None
            still_held = []
            for fr in held:
                if open_id is not None and (fr["__seq_local"] == open_id).any():
                    still_held.append(fr)
                else:
                    yield finalize(fr)
            held = still_held
            # prune totals AFTER the flush round: a sequence can span
            # several flushed frames, so ids stay until no held frame
            # (and not the open sequence) references them
            keep = {int(i) for fr in held for i in fr["__seq_local"].unique()}
            if open_id is not None:
                keep.add(open_id)
            for sid in [k for k in totals if k not in keep]:
                del totals[sid]
        for fr in held:
            yield finalize(fr)

    return chunks.mapInPandas(pack, schema=schema)


def term_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The shared ``(id, term, tf)`` frame of the retrieval family —
    one explode + one map-side-combined count. :func:`tf_idf` and
    :func:`bm25_retrieve` both consume it; compute it ONCE (with a
    lazy ``localCheckpoint``) when a caller feeds several consumers so
    the corpus scans once (the x_language_id registry entry does
    exactly this via their ``tf=`` parameters)."""
    return (
        docs.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tf_idf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """TF-IDF term weights: ``tf = count of term in doc``, ``idf =
    ln((N + 1) / (df + 1)) + 1`` (the smoothed scikit-learn
    convention — never zero or divide-by-zero), long format
    ``(id, term, tf, df, tfidf)``. ``top_k`` keeps each document's k
    highest-weighted terms (ties → lexicographically first term) —
    the keyword-extraction contract.

    Shape: one explode + two map-side-combined aggregations. The term
    shuffle is VOCABULARY-shaped (distinct terms × partitions), not
    corpus-shaped, and the df side aggregates to one row per distinct
    term. The df→tf scoring join is deliberately UNHINTED: a web-scale
    vocabulary is 10⁸-10⁹ distinct terms, and a forced broadcast of a
    per-term frame is a driver/executor OOM at exactly the scale this
    operator targets (the failure class ``ngram_lm_score`` bounds with
    ``max_vocab``); AQE broadcasts it whenever the measured size is
    actually small, and falls back to a term-keyed shuffle join —
    both sides are already term-partitioned by their aggregations —
    when it is not. The top-k window partitions by document —
    bounded by the longest single document, never the corpus.

    ``tf``: optional precomputed :func:`term_frequencies` frame
    (barrier it in the caller when shared across consumers)."""
    if tf is None:
        # both consumers (df counts + N) derive from tf, which is
        # itself the product of the corpus scan — barrier it so the
        # scan and the explode run once
        tf = term_frequencies(docs, text_col, id_col).localCheckpoint(
            eager=False
        )
    n_docs = tf.select(id_col).distinct().count()
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0
    scored = tf.join(df_counts, "term").select(
        id_col, "term", "tf", "df", (F.col("tf") * idf).alias("tfidf")
    )
    if top_k is None:
        return scored
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_k)
        .drop("__rn")
    )


def bm25_retrieve(
    docs: DataFrame,
    queries: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = 10,
    tf: DataFrame | None = None,
    query_filter=None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Okapi BM25 scored retrieval (round-12 verdict ask #5): for each
    query, rank corpus documents by

        score(q, d) = Σ_{t ∈ distinct(q)}  idf(t) ·
                      tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))

    with the Lucene idf ``ln(1 + (N − df + 0.5)/(df + 0.5))`` (always
    positive) and N / df / avgdl computed over token-bearing documents.
    Returns ``(query_id, doc_id, score[, rank])`` — every (query, doc)
    pair sharing ≥ 1 term when ``top_k`` is None, else each query's
    ``top_k`` by (score desc, id asc). Retrieval-based decontamination
    and quality-by-retrieval are the modern complements to the n-gram
    screens (:func:`decontaminate` / :func:`fuzzy_decontaminate`).

    Shape (the 100 TB lens): the document side is the same
    vocabulary-sharded ``(doc, term, tf)`` frame as :func:`tf_idf`
    (one explode + map-side-combined count — never corpus² anything);
    df and doc-length reduce to one row per term / per doc; the QUERY
    side (a benchmark suite, thousands of rows) aggregates to distinct
    terms and BROADCASTS into the tf frame, so scoring touches only
    documents containing a query term, partitioned by the corpus —
    no shuffle of the corpus at all beyond the tf groupBy. The df
    table is one row per DISTINCT CORPUS TERM (10⁸-10⁹ at a web
    corpus — never broadcastable as-is), so it is first semi-joined
    to the driver-sized query-term set and only that QUERY-SHAPED
    slice broadcasts into the score join (round-13; the guard
    ``ngram_lm_score`` expresses with ``max_vocab``). The final
    per-query top-k window partitions on query_id (bounded by matches
    per query). N / avgdl are 1-row frames crossed in via broadcast,
    the repo's scalar-statistic discipline.

    ``tf``: optional precomputed :func:`term_frequencies` frame
    (barrier it in the caller when shared — e.g. with
    :func:`tf_idf`, as the x_language_id entry does so the corpus
    scans once for both consumers). ``query_filter``: a Column
    predicate over ``id_col`` selecting CORPUS documents as the query
    set (the retrieval-decontamination shape) — query terms then
    derive from the tf frame itself, zero extra corpus scan; mutually
    exclusive with ``queries``. ``max_df_frac``: drop query terms with
    document frequency above this corpus fraction (stopword pruning —
    the standard retrieval scale guard: such terms carry near-zero idf
    but match nearly every document, so at corpus scale they turn the
    score join quadratic; opt-in because dropping them perturbs scores
    by their tiny idf contribution)."""
    if (queries is None) == (query_filter is None):
        raise ValueError("pass exactly one of queries / query_filter")
    if tf is None:
        tf = term_frequencies(docs, text_col, id_col).localCheckpoint(
            eager=False
        )  # df / dl / N / scoring all reuse it
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if query_filter is not None:
        qterms = (
            tf.filter(query_filter)
            .select(F.col(id_col).alias(query_id_col), "term")
            .distinct()
        )
    else:
        qterms = (
            queries.select(
                F.col(query_id_col),
                F.explode(tokens(F.col(query_text_col))).alias("term"),
            )
            .filter(F.col("term") != "")
            .distinct()
        )
    # df restricted to the query terms BEFORE any broadcast hint: the
    # query-term set is driver-sized by contract, so this semi-join
    # turns every df broadcast below query-shaped (df_counts itself is
    # corpus-vocabulary-shaped and must never be forced to broadcast).
    # No barrier: the max_df_frac guard and the score join may both
    # consume it, but the subplans are identical so AQE's exchange
    # reuse dedupes the df aggregation, and keeping the lineage
    # visible lets tests pin the broadcast-side shape.
    qdf = df_counts.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    )
    if max_df_frac is not None:
        qterms = (
            qterms.join(F.broadcast(qdf), "term")
            .crossJoin(F.broadcast(stats))
            .filter(F.col("df") <= max_df_frac * F.col("n_docs"))
            .select(query_id_col, "term")
        )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tnorm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(qdf), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(query_id_col, id_col)
        .agg(F.sum(idf * tnorm).alias("score"))
    )
    if top_k is None:
        return scored
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def build_bm25_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    tf: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Build the persistable BM25 index (round-12 verdict ask #5 —
    the retrieval sibling of ``build_ivfpq_index``): returns
    ``(postings, stats)`` where ``postings`` is one row per (term,
    document) occurrence with everything scoring needs DENORMALIZED
    onto it — ``(term, id, tf, dl, df, __bucket)`` — and ``stats`` is
    the model-parameter dict ``{"n_docs", "avgdl", "n_buckets"}``
    (three numbers; the caller's to store beside the index). Persist
    TERM-BUCKETED::

        postings.write.partitionBy("__bucket").parquet(path)

    and :func:`bm25_search` over the read-back frame prunes the scan
    to the query terms' buckets (static ``isin`` predicate → partition
    pruning: a query batch reads ≤ |distinct query-term buckets| /
    n_buckets of the index FILES — at a 100 TB corpus, the difference
    between re-scanning the corpus per query batch and reading a few
    files). ``__bucket = pmod(xxhash64(term), n_buckets)``; df and dl
    ride on the posting rows (8 bytes each) precisely so search needs
    NO corpus-shaped join — one pruned scan, one broadcast of the
    query terms, one aggregation. Building is one corpus scan +
    vocabulary- and corpus-sharded joins, amortized over every future
    query batch (``bm25_retrieve`` recomputes all of it per call).

    ``tf``: optional precomputed :func:`term_frequencies` frame."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if tf is None:
        tf = term_frequencies(docs, text_col, id_col).localCheckpoint(
            eager=False
        )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).first()
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    postings = (
        tf.join(dl, id_col)
        .join(df_counts, "term")
        .select(
            "term", id_col, "tf", "dl", "df",
            F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).alias(
                "__bucket"
            ),
        )
    )
    stats = {
        "n_docs": float(st["n_docs"] or 0.0),
        "avgdl": float(st["avgdl"]) if st["avgdl"] is not None else 0.0,
        "n_buckets": int(n_buckets),
    }
    return postings, stats


def bm25_search(
    index: DataFrame,
    queries: DataFrame | None,
    stats: dict,
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = 10,
    max_df_frac: float | None = None,
    query_terms: DataFrame | None = None,
    df_frame: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Query a PREBUILT BM25 index (:func:`build_bm25_index`, normally
    read back from a ``partitionBy("__bucket")`` lake path). Scores
    are IDENTICAL to :func:`bm25_retrieve` on the same corpus — same
    Lucene idf, same length normalization — but the per-call cost is
    a file-pruned index scan instead of a corpus recompute: the query
    terms' bucket set (≤ n_buckets values, collected driver-side —
    the one contract-tiny collect) lands as a static ``__bucket IN
    (...)`` predicate that prunes whole partitions before the term
    join. ``max_df_frac`` prunes high-df terms with the df column
    already on the posting rows — no stats join. N/avgdl come from
    ``stats`` as literals, the scalar-statistic discipline.

    ``query_terms``: optional pre-tokenized ``(query_id, term)`` frame
    instead of ``queries`` — the retrieval-decontamination shape where
    queries come from an already-tokenized corpus frame (e.g. a slice
    of the ``term_frequencies`` output), saving the extra text scan;
    mutually exclusive with ``queries``.

    ``df_frame`` (round-14): the INCREMENTAL layout's df side frame
    (:func:`bm25_index_delta` — delta rows ``(term, df, __bucket)``,
    possibly many per term across appended batches). When passed, the
    index postings need not carry a ``df`` column: the query terms' df
    is summed from the delta rows at query time — same bucket pruning,
    a query-shaped aggregate (≤ |distinct query terms| rows), so
    appended batches never invalidate existing postings. Scores are
    identical to the denormalized layout (pytest-pinned).

    ``tombstones`` (round-14): deleted-id frame from
    :func:`delete_bm25_docs` — anti-joined against the candidates
    AFTER the query-term join (the candidate set is already
    query-scoped there, so the anti-join touches ≤ |query-term
    postings| rows, and it joins UNHINTED: a heavy-curation workload's
    tombstone set is corpus-shaped, the near_dedup drop-set
    argument)."""
    if (queries is None) == (query_terms is None):
        raise ValueError("pass exactly one of queries / query_terms")
    if df_frame is not None and "df" in index.columns:
        # a denormalized build_bm25_index frame already carries df on
        # every posting row; joining a second df onto it would produce
        # an ambiguous-column AnalysisException at scoring time, far
        # from the call site — fail here with the actual mistake
        raise ValueError(
            "df_frame was passed but the index postings already carry a "
            "'df' column (denormalized build_bm25_index layout); pass "
            "df_frame only with the incremental bm25_index_delta/"
            "append_bm25_index layout, whose postings are df-free"
        )
    n_docs = float(stats["n_docs"])
    avgdl = float(stats["avgdl"])
    n_buckets = int(stats["n_buckets"])
    if query_terms is not None:
        qterms = query_terms.select(query_id_col, "term").distinct()
        q_src = query_terms
    else:
        qterms = (
            queries.select(
                F.col(query_id_col),
                F.explode(tokens(F.col(query_text_col))).alias("term"),
            )
            .filter(F.col("term") != "")
            .distinct()
        )
        q_src = queries
    # ONE evaluation of the query-term derivation (round-14, sf10
    # finding): qterms feeds the bucket collect below plus 1-2
    # broadcasts; without the barrier each consumer re-ran the query
    # scan + explode + distinct (3.8 s each at 500k docs). The frame
    # is driver-sized by contract, so the checkpoint is bytes.
    qterms = qterms.localCheckpoint(eager=False)
    bkts = sorted(
        r["__b"]
        for r in qterms.select(
            F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).alias("__b")
        )
        .distinct()
        .collect()
    )
    if not bkts:
        spark = index.sparkSession
        id_type = dict(index.dtypes)[id_col]
        q_type = dict(q_src.dtypes)[query_id_col]
        empty = f"{query_id_col} {q_type}, {id_col} {id_type}, score double"
        out = spark.createDataFrame([], empty)
        return out if top_k is None else out.withColumn(
            "rank", F.lit(1).cast("int")
        ).limit(0)
    if df_frame is not None:
        # query-scoped df: prune the delta frame to the query buckets,
        # semi-join to the driver-sized query-term set BEFORE any work
        # (the round-13 tf_idf/bm25 broadcast discipline), then sum the
        # per-batch deltas and attach df to the QUERY TERMS — so the
        # one index join below both carries df and drops
        # max_df_frac-pruned stopword terms at the join itself
        # (round-14, sf10 finding: joining cands first and filtering
        # df after materialized every stopword posting — 178M
        # candidate rows at 500k docs / ~30 queries, 17.4 s vs 5.4 s
        # denormalized; df-first is the same prune placement the
        # denormalized layout gets from its on-row df column). Both
        # frames here are contract-bounded (≤ |distinct query terms|
        # rows), so the hints are the bounded-by-construction class,
        # not corpus-shaped gambles.
        dfq = (
            df_frame.filter(F.col("__bucket").isin(bkts))
            .join(
                F.broadcast(qterms.select("term").distinct()), "term",
                "left_semi",
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        if max_df_frac is not None:
            dfq = dfq.filter(F.col("df") <= max_df_frac * n_docs)
        qtdf = qterms.join(F.broadcast(dfq), "term")
        cands = index.filter(F.col("__bucket").isin(bkts)).join(
            F.broadcast(qtdf), "term"
        )
    else:
        cands = index.filter(F.col("__bucket").isin(bkts)).join(
            F.broadcast(qterms), "term"
        )
        if max_df_frac is not None:
            cands = cands.filter(F.col("df") <= max_df_frac * n_docs)
    if tombstones is not None:
        cands = cands.join(tombstones.select(id_col), id_col, "left_anti")
    idf = F.log(
        1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tnorm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    scored = cands.groupBy(query_id_col, id_col).agg(
        F.sum(idf * tnorm).alias("score")
    )
    if top_k is None:
        return scored
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def bm25_index_delta(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    tf: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, dict]:
    """One document batch's contribution to the INCREMENTAL BM25 index
    layout (round-14, VERDICT r13 Missing #3): returns ``(postings,
    df_delta, stats_delta)``.

    Why a second layout: :func:`build_bm25_index` denormalizes df —
    a CORPUS-WIDE statistic — onto every posting row, which makes the
    single-shot search maximally cheap but maintenance full-rebuild:
    appending one batch changes df for every shared term, i.e.
    invalidates existing rows all over the index. Real pipelines
    re-index corpora continuously, so here every persisted row is
    APPEND-STABLE: postings carry only batch-local fields ``(term, id,
    tf, dl, __bucket)``; df lives in a separate term-bucketed side
    frame of per-batch DELTA rows ``(term, df, __bucket)`` summed at
    query time (:func:`bm25_search` with ``df_frame=``); and the two
    scalar corpus stats merge additively (:func:`merge_bm25_stats`) —
    ``sum_dl`` is kept INTEGRAL so ``avgdl = sum_dl / n_docs`` is
    exact regardless of how the corpus was split into batches.
    Appending a batch therefore writes O(batch) rows and rewrites
    nothing (the bench extra measures append ≪ rebuild at 500k+1k).

    Scale shape: identical to the full build per batch — one corpus
    scan, batch-sharded joins; search cost gains one query-shaped
    delta aggregation (≤ |query terms| × #batches rows read from the
    pruned df buckets; :func:`compact_bm25_index_df` folds the deltas
    back to one row per term when batch count grows).
    ``tf``: optional precomputed :func:`term_frequencies` frame."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if tf is None:
        tf = term_frequencies(docs, text_col, id_col).localCheckpoint(
            eager=False
        )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).first()
    bucket = F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).alias(
        "__bucket"
    )
    postings = tf.join(dl, id_col).select("term", id_col, "tf", "dl", bucket)
    df_delta = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    ).select("term", "df", bucket)
    stats_delta = {
        "n_docs": int(st["n_docs"] or 0),
        "sum_dl": int(st["sum_dl"] or 0),
        "n_buckets": int(n_buckets),
    }
    return postings, df_delta, stats_delta


def merge_bm25_stats(*stats: dict | None) -> dict:
    """Additively merge :func:`bm25_index_delta` stats dicts (Nones
    skipped): n_docs/sum_dl sum exactly (integers), n_buckets must
    agree (it is baked into the on-disk partitioning), and the derived
    ``n_docs``/``avgdl`` floats match what :func:`bm25_search` expects
    in its ``stats`` argument."""
    live = [s for s in stats if s is not None]
    if not live:
        raise ValueError("nothing to merge")
    buckets = {int(s["n_buckets"]) for s in live}
    if len(buckets) != 1:
        raise ValueError(
            f"n_buckets mismatch across batches: {sorted(buckets)} — the "
            "bucket count is baked into the index partitioning"
        )
    n_docs = sum(int(s["n_docs"]) for s in live)
    sum_dl = sum(int(s["sum_dl"]) for s in live)
    return {
        "n_docs": float(n_docs),
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        "n_buckets": buckets.pop(),
    }


def append_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    tf: DataFrame | None = None,
) -> dict:
    """Append a document batch to the PERSISTED incremental BM25 index
    at ``path`` (creating it on first call): ``postings/`` and ``df/``
    parquet directories, both ``partitionBy("__batch", "__bucket")``
    so :func:`bm25_search` file-prunes to the query terms' buckets,
    plus ``stats.json`` with the merged additive counters. Only the
    batch's own rows are written — existing files are never touched
    (the append-stability argument in :func:`bm25_index_delta`).

    Atomicity (round-15, ADVICE): a batch is three physical writes
    (postings parquet, df parquet, stats.json) — the STATS WRITE IS
    THE COMMIT POINT. Every row the batch writes lands under its own
    ``__batch=<n>`` partition directory, and stats.json records
    ``n_batches``, the count of committed batches; a crash between the
    parquet appends and the stats replace leaves orphan
    ``__batch >= n_batches`` directories that
    :func:`open_bm25_index` filters out (partition-pruned — never
    read) and the NEXT serialized append removes before reusing the
    id. The index on disk is therefore always exactly its committed
    prefix of batches — no partial-append df skew is observable.

    ``n_buckets`` may only be set on the first call (afterwards it is
    read from stats.json; a conflicting value raises). Returns the
    merged stats dict, ready to pass to :func:`bm25_search`.
    Concurrent appenders are NOT coordinated — serialize appends, the
    same contract as every lake writer in ``sources/io.py``."""
    cur, nb, batch = _bm25_open_for_append(path, n_buckets)
    postings, df_delta, delta = bm25_index_delta(
        docs, text_col, id_col, nb, tf
    )
    import os

    postings.withColumn("__batch", F.lit(batch)).write.mode(
        "append"
    ).partitionBy("__batch", "__bucket").parquet(
        os.path.join(path, "postings")
    )
    df_delta.withColumn("__batch", F.lit(batch)).write.mode(
        "append"
    ).partitionBy("__batch", "__bucket").parquet(os.path.join(path, "df"))
    merged = merge_bm25_stats(cur, delta)
    merged["n_batches"] = batch + 1
    merged["n_tombstones"] = int(cur.get("n_tombstones", 0)) if cur else 0
    _bm25_commit_stats(path, merged)
    return merged


def _bm25_open_for_append(path: str, n_buckets: int | None) -> tuple:
    """Shared writer prologue: load the committed stats (or None for a
    fresh index), resolve/validate n_buckets, allocate the next batch
    id, and remove any ORPHAN ``__batch`` directories a crashed prior
    writer left at or above the committed count (safe — writers are
    serialized by contract, so nothing live is in flight)."""
    import json
    import os
    import re
    import shutil

    stats_file = os.path.join(path, "stats.json")
    cur = None
    if os.path.exists(stats_file):
        with open(stats_file) as fh:
            cur = json.load(fh)
        if n_buckets is not None and int(n_buckets) != int(cur["n_buckets"]):
            raise ValueError(
                f"index at {path} was built with n_buckets="
                f"{cur['n_buckets']}, got {n_buckets}"
            )
        nb = int(cur["n_buckets"])
        batch = int(cur.get("n_batches", 0))
    else:
        nb = 64 if n_buckets is None else int(n_buckets)
        batch = 0
    pat = re.compile(r"^__batch=(\d+)$")
    for sub in ("postings", "df", "tombstones"):
        root = os.path.join(path, sub)
        if not os.path.isdir(root):
            continue
        for d in os.listdir(root):
            m = pat.match(d)
            if m and int(m.group(1)) >= batch:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return cur, nb, batch


def _bm25_commit_stats(path: str, merged: dict) -> None:
    import json
    import os

    os.makedirs(path, exist_ok=True)
    stats_file = os.path.join(path, "stats.json")
    tmp = stats_file + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(merged, fh)
    os.replace(tmp, stats_file)


def delete_bm25_docs(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    tf: DataFrame | None = None,
) -> dict:
    """Delete a batch of PREVIOUSLY-APPENDED documents from an
    :func:`append_bm25_index` index — the other half of continuous
    re-indexing (curation pipelines remove documents as often as they
    add them). Deletion is O(batch) like append, touching nothing
    existing: the batch's ids land in a ``tombstones/`` side frame
    (anti-joined at search time), its per-term doc counts land as
    NEGATIVE df delta rows (the additive-delta design absorbs
    decrements for free — sums are still exact integers), and the
    scalar counters decrement through the same
    :func:`merge_bm25_stats`. ``docs`` must be the documents as
    indexed (same id + text — tokenization is deterministic, so the
    recomputed contributions equal the indexed ones exactly);
    deleting a never-indexed id corrupts df — the caller owns that
    contract, same as every lake writer here. ALREADY-TOMBSTONED ids,
    however, are filtered out up front (round 15 — an anti-join
    against the committed tombstones, batch-shaped), so re-deleting
    is a safe no-op: that is what lets a crashed
    ``streaming.ingest.forget`` re-run its BM25 leg idempotently.
    Tombstoned posting rows stay on disk until
    :func:`compact_bm25_index` rewrites them out. A delete batch
    commits atomically exactly like an append (round-15): its negative
    df rows and its tombstone ids land under a fresh ``__batch``
    partition, and the stats.json replace recording ``n_batches`` is
    the commit point — a crash mid-delete is invisible to readers.
    Returns the merged stats."""
    import os

    cur, nb, batch = _bm25_open_for_append(path, None)
    if cur is None:
        raise FileNotFoundError(f"no BM25 index at {path}")
    tomb_path = os.path.join(path, "tombstones")
    if os.path.exists(tomb_path):
        prior = (
            docs.sparkSession.read.parquet(tomb_path)
            .filter(F.col("__batch") < int(cur.get("n_batches", 0)))
            .select(id_col)
        )
        docs = docs.join(prior, id_col, "left_anti").localCheckpoint(
            eager=False
        )
        if tf is not None:
            tf = tf.join(docs.select(id_col), id_col, "left_semi")
        if not docs.take(1):
            return dict(cur)  # everything already deleted — no-op
    if tf is None:
        tf = term_frequencies(docs, text_col, id_col).localCheckpoint(
            eager=False
        )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).first()
    bucket = F.pmod(F.xxhash64(F.col("term")), F.lit(nb)).alias("__bucket")
    neg_df = tf.groupBy("term").agg(
        (-F.count(F.lit(1))).alias("df")
    ).select("term", "df", bucket)
    neg_df.withColumn("__batch", F.lit(batch)).write.mode(
        "append"
    ).partitionBy("__batch", "__bucket").parquet(os.path.join(path, "df"))
    docs.select(id_col).withColumn("__batch", F.lit(batch)).write.mode(
        "append"
    ).partitionBy("__batch").parquet(os.path.join(path, "tombstones"))
    merged = merge_bm25_stats(
        cur,
        {
            "n_docs": -int(st["n_docs"] or 0),
            "sum_dl": -int(st["sum_dl"] or 0),
            "n_buckets": nb,
        },
    )
    merged["n_batches"] = batch + 1
    merged["n_tombstones"] = int(cur.get("n_tombstones", 0)) + int(
        st["n_docs"] or 0
    )
    _bm25_commit_stats(path, merged)
    return merged


def open_bm25_index(
    spark, path: str, materialize: bool = False
) -> tuple[DataFrame, DataFrame, dict, DataFrame | None]:
    """Read back an :func:`append_bm25_index` index: ``(postings,
    df_frame, stats, tombstones)`` — pass straight to
    :func:`bm25_search` as ``(index, df_frame=df_frame, stats=stats,
    tombstones=tombstones)``. ``tombstones`` is None when nothing was
    ever deleted.

    Every frame is filtered to the COMMITTED batch prefix
    (``__batch < stats["n_batches"]`` — a partition-column predicate,
    so orphan directories from a crashed writer are pruned at file
    listing, never read): stats.json is the commit point, and this
    filter is what makes the three-write batch protocol atomic from
    the reader's side.

    ``materialize=True`` (round-16, VERDICT r15 ask #7): amortize the
    per-search fixed overhead across repeated searches on the SAME
    opened handle. The incremental layout's df side lives in one
    parquet directory PER BATCH × bucket; every search re-lists and
    re-reads those per-batch delta files and re-sums them — at sf0.1
    (tiny corpus, ~190 delta dirs) that fixed cost was the entire
    4.28 s vs 1.31 s gap against the denormalized layout. With
    ``materialize``, the committed df deltas are folded once to one
    row per (term, bucket) — integer sums, exactly
    :func:`compact_bm25_index_df`'s arithmetic, scores bit-identical
    (pytest-pinned) — and stored via an eager ``localCheckpoint``
    (session-lifetime blocks, not a cross-run cache); tombstones
    likewise. The POSTINGS stay a parquet scan on purpose: they are
    corpus-sized and their per-search bucket pruning IS the win of
    the partitioned layout."""
    import json
    import os

    with open(os.path.join(path, "stats.json")) as fh:
        stats = json.load(fh)
    committed = F.col("__batch") < int(stats.get("n_batches", 0))
    postings = spark.read.parquet(os.path.join(path, "postings")).filter(
        committed
    )
    df_frame = spark.read.parquet(os.path.join(path, "df")).filter(committed)
    tomb_path = os.path.join(path, "tombstones")
    tombstones = (
        spark.read.parquet(tomb_path).filter(committed)
        if os.path.exists(tomb_path)
        else None
    )
    if materialize:
        # fold per-batch deltas to one row per (term, bucket): exact
        # integer sums (zero-sum rows KEPT so the frame is row-for-row
        # equivalent in search arithmetic to the unfolded deltas)
        df_frame = (
            df_frame.groupBy("term", "__bucket")
            .agg(F.sum("df").alias("df"))
            .localCheckpoint(eager=True)
        )
        if tombstones is not None:
            tombstones = tombstones.localCheckpoint(eager=True)
    return postings, df_frame, stats, tombstones


def compact_bm25_index_df(spark, path: str) -> int:
    """Fold the accumulated per-batch df delta rows into one row per
    term (the one search-side cost that grows with APPEND COUNT rather
    than corpus size — the streaming-ingest compaction story,
    streaming/ingest.py). Sums are integers, so the fold is exact and
    search results are unchanged. Terms whose folded df sums to 0 —
    every contributing doc later deleted — are dropped entirely
    (round-15, ADVICE): they carry zero scoring mass but would
    otherwise be re-read and re-joined by every search touching their
    bucket forever. Same swap discipline as ``sources.io.compact_lake``:
    the rewrite lands in a sibling temp dir and swaps in only after a
    checksum (total df mass) matches; a failed compaction leaves the
    original layout untouched. The pre-write mass comes from an
    ``Observation`` attached to the input scan, so the fold is ONE
    Spark job (round-15 — was a separate full pass); the post-write
    mass/count read the freshly-written vocabulary-shaped frame. The
    folded rows land under ``__batch=0`` (always inside the committed
    prefix) and orphan uncommitted delta directories are dropped by
    the rewrite. Quiesce writers first. Returns the compacted row
    count."""
    import json
    import os
    import shutil

    from pyspark.sql import Observation

    df_path = os.path.join(path, "df")
    tmp = df_path.rstrip("/") + ".__compact__"
    old = df_path.rstrip("/") + ".__old__"
    if not os.path.exists(df_path) and os.path.exists(old):
        os.rename(old, df_path)  # recover a crashed prior swap
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    with open(os.path.join(path, "stats.json")) as fh:
        committed = int(json.load(fh).get("n_batches", 0))
    cur = spark.read.parquet(df_path).filter(F.col("__batch") < committed)
    obs = Observation()
    folded = (
        cur.observe(obs, F.sum("df").alias("mass"))
        .groupBy("term", "__bucket")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") != 0)
    )
    folded.select(
        "term", "df", "__bucket", F.lit(0).alias("__batch")
    ).write.mode("overwrite").partitionBy("__batch", "__bucket").parquet(tmp)
    mass = obs.get["mass"]
    back = spark.read.parquet(tmp)
    back_mass = back.agg(F.sum("df")).first()[0]
    n = back.count()
    # dropped zero-sum terms carry no mass, so the checksum is exact
    if (back_mass or 0) != (mass or 0):
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"df compaction mass mismatch: {mass} -> {back_mass}; "
            "original kept"
        )
    os.rename(df_path, old)
    os.rename(tmp, df_path)
    shutil.rmtree(old, ignore_errors=True)
    return n


def compact_bm25_index(spark, path: str, id_col: str = "doc_id") -> dict:
    """Full maintenance pass for an incremental BM25 index: fold the
    df deltas (:func:`compact_bm25_index_df`), rewrite ``postings/``
    WITHOUT the tombstoned documents' rows, and clear ``tombstones/``
    — after which search needs no anti-join and the disk holds no dead
    rows. The postings rewrite follows the same swap discipline
    (rewrite to a temp sibling, verify the surviving row count,
    two-rename swap; a failure leaves the original layout untouched —
    rerun to retry). The expected row count comes from an
    ``Observation`` on the anti-join output DURING the rewrite, so the
    largest frame the engine owns is scanned ONCE (round-15 — was
    count-then-write, two full anti-join passes); the verify side is
    the parquet-footer count of the freshly-written files. Quiesce
    writers first. Returns ``{"df_rows": ..., "postings_rows": ...,
    "tombstones_dropped": ...}``."""
    import json
    import os
    import shutil

    from pyspark.sql import Observation

    out = {"df_rows": compact_bm25_index_df(spark, path)}
    tomb_path = os.path.join(path, "tombstones")
    post_path = os.path.join(path, "postings")
    if not os.path.exists(tomb_path):
        out["postings_rows"] = spark.read.parquet(post_path).count()
        out["tombstones_dropped"] = 0
        return out
    tmp = post_path.rstrip("/") + ".__compact__"
    old = post_path.rstrip("/") + ".__old__"
    if not os.path.exists(post_path) and os.path.exists(old):
        os.rename(old, post_path)  # recover a crashed prior swap
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    stats_file = os.path.join(path, "stats.json")
    with open(stats_file) as fh:
        stats = json.load(fh)
    committed = F.col("__batch") < int(stats.get("n_batches", 0))
    postings = spark.read.parquet(post_path).filter(committed)
    tombs = spark.read.parquet(tomb_path).filter(committed)
    # corpus-shaped × corpus-shaped anti-join: unhinted, AQE decides
    obs = Observation()
    live = postings.join(tombs.select(id_col), id_col, "left_anti").observe(
        obs, F.count(F.lit(1)).alias("rows")
    )
    live.drop("__batch").withColumn("__batch", F.lit(0)).write.mode(
        "overwrite"
    ).partitionBy("__batch", "__bucket").parquet(tmp)
    want = obs.get["rows"]
    got = spark.read.parquet(tmp).count()  # parquet-footer count
    if got != want:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"postings compaction row mismatch: {want} -> {got}; "
            "original kept"
        )
    os.rename(post_path, old)
    os.rename(tmp, post_path)
    shutil.rmtree(old, ignore_errors=True)
    n_tombs = tombs.count()
    shutil.rmtree(tomb_path)
    stats["n_tombstones"] = 0
    _bm25_commit_stats(path, stats)
    out["postings_rows"] = got
    out["tombstones_dropped"] = n_tombs
    return out


def bm25_index_stats(spark, path: str) -> dict:
    """Maintenance statistics for an :func:`append_bm25_index` index —
    the measurement half of the compaction policy (round-15, VERDICT
    r14 Missing #2; the retrieval sibling of ``ivfpq_index_stats``).
    Returns the committed counters from stats.json plus two measured
    shape numbers::

        df_delta_rows    committed rows in df/ (grows with APPEND+
                         DELETE COUNT, not corpus size — every search
                         touching a bucket re-reads and re-sums them)
        distinct_terms   approx_count_distinct over df/ (the floor the
                         fold can reach)

    and the derived ratios the policy thresholds:
    ``df_delta_ratio = df_delta_rows / distinct_terms`` (1.0 ==
    perfectly compacted) and ``tombstone_frac = n_tombstones /
    (n_docs + n_tombstones)`` (the dead fraction of postings rows,
    exact in expectation since tombstoned docs' postings stay on disk
    until :func:`compact_bm25_index`). Cost: one scan of the
    vocabulary-shaped df side frame; postings are never touched."""
    import json
    import os

    with open(os.path.join(path, "stats.json")) as fh:
        stats = json.load(fh)
    committed = F.col("__batch") < int(stats.get("n_batches", 0))
    dff = spark.read.parquet(os.path.join(path, "df")).filter(committed)
    row = dff.agg(
        F.count(F.lit(1)).alias("rows"),
        F.approx_count_distinct("term").alias("terms"),
    ).first()
    df_rows = int(row["rows"] or 0)
    terms = int(row["terms"] or 0)
    n_docs = float(stats.get("n_docs", 0.0))
    n_tombs = int(stats.get("n_tombstones", 0))
    return {
        "n_docs": n_docs,
        "n_batches": int(stats.get("n_batches", 0)),
        "n_buckets": int(stats.get("n_buckets", 0)),
        "df_delta_rows": df_rows,
        "distinct_terms": terms,
        "df_delta_ratio": (df_rows / terms) if terms else 1.0,
        "n_tombstones": n_tombs,
        "tombstone_frac": (
            n_tombs / (n_docs + n_tombs) if (n_docs + n_tombs) > 0 else 0.0
        ),
    }


def bm25_needs_compaction(
    index_stats: dict,
    df_delta_ratio: float = 3.0,
    max_tombstone_frac: float = 0.2,
) -> bool:
    """The compaction trigger of the incremental BM25 maintenance
    contract (mirrors :func:`ivfpq_needs_rebuild`): compact when the
    df side frame holds more than ``df_delta_ratio`` delta rows per
    distinct term (search-side delta summing cost grew that factor
    over the compacted floor — the measured cost curve lives in
    BASELINE.md), or when more than ``max_tombstone_frac`` of the
    indexed documents are tombstoned (that fraction of every pruned
    postings scan is dead rows, plus the per-query anti-join).
    ``index_stats`` comes from :func:`bm25_index_stats`; thresholds
    are policy, the defaults conservative. A continuously-curated
    deployment calls this after each append/delete cycle and runs
    :func:`compact_bm25_index` when it flips."""
    return (
        index_stats["df_delta_ratio"] > df_delta_ratio
        or index_stats["tombstone_frac"] > max_tombstone_frac
    )


def _bigram_pairs(
    frame: DataFrame,
    text_col: str,
    id_col: str,
    bos: str = "<s>",
    outer: bool = False,
) -> DataFrame:
    """(id, prev, w) rows — one per token, ``prev`` of the first token
    is the BOS sentinel. Pure Catalyst (filter + transform-with-index +
    explode); per-doc rows stay in their scan partition. ``outer``
    keeps token-less documents as one (id, NULL, NULL) sentinel row —
    the scoring side uses it so the per-doc aggregation covers every
    document in ONE corpus scan (no id-universe join-back)."""
    ts = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    pairs = F.transform(
        F.col("__ts"),
        lambda w, i: F.struct(
            F.when(i == 0, F.lit(bos)).otherwise(F.get(F.col("__ts"), i - 1)).alias("prev"),
            w.alias("w"),
        ),
    )
    ex = F.explode_outer(pairs) if outer else F.explode(pairs)
    return (
        ensure_min_parallelism(frame.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), ts.alias("__ts"))
        .select(id_col, ex.alias("__p"))
        .select(id_col, F.col("__p.prev").alias("prev"), F.col("__p.w").alias("w"))
    )


def ngram_lm_score(
    docs: DataFrame,
    train: DataFrame | None = None,
    *,
    add_k: float = 0.5,
    max_vocab: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram language-model perplexity per document — the CCNet-style
    quality signal (Wenzek et al. 2020: score a web corpus by the
    perplexity of an LM trained on a trusted corpus; low-ppl ≈ fluent,
    high-ppl ≈ noise). ``train`` is the trusted corpus (defaults to
    ``docs`` itself — self-perplexity, which flags statistical
    outliers). Returns ``(id, n_lm_tokens, avg_logp, ppl)`` with
    ``ppl = exp(-avg_logp)``; documents with no tokens get NULLs.

    Model: add-k-smoothed bigram with a BOS sentinel,
    ``P(w|prev) = (c(prev,w) + k) / (c(prev,·) + k·V)`` where V is the
    training vocabulary size — deterministic and closed-form, so the
    whole operator is oracle-expressible in ANSI SQL (graded in
    ``x_language_id`` part='lm').

    100 TB shape: the LM tables are VOCABULARY-shaped, never
    corpus-shaped — observed bigrams for the count table, distinct
    contexts for the denominator table. With ``max_vocab`` set,
    web-scale vocabularies are pruned to the top tokens by frequency
    first, with every out-of-vocabulary token folded to '<unk>' on
    BOTH the train and score sides, so the tables are provably
    vocabulary-bounded and broadcast into the scoring pass. With
    ``max_vocab=None`` the distinct-bigram count grows roughly
    linearly with the training corpus, so the joins are deliberately
    UNHINTED — AQE broadcasts them while they fit and shuffles
    otherwise (a forced broadcast here is a guaranteed driver OOM at
    corpus scale; at that scale set ``max_vocab``, which is also the
    ``CurationConfig`` default). Scoring is then a narrow explode +
    joins + a per-document groupBy whose map-side combine emits one
    row per (doc, task) — corpus text never crosses the wire.
    Training cost is one scan of ``train`` with a map-side-combined
    bigram count (shuffle = distinct observed bigrams per task, not
    token instances).
    """
    if add_k <= 0:
        # unsmoothed LMs give -inf log-probs on unseen contexts; the
        # division guard below would silently SKIP those tokens and
        # return a plausible finite perplexity — refuse loudly instead
        raise ValueError("add_k must be > 0 (unsmoothed LMs unsupported)")
    train = docs if train is None else train
    bos = "<s>"
    unk = "<unk>"

    tr_pairs = _bigram_pairs(train, text_col, id_col, bos)
    if max_vocab is not None:
        vocab = (
            tr_pairs.groupBy("w")
            .agg(F.count(F.lit(1)).alias("__c"))
            .orderBy(F.col("__c").desc(), F.col("w").asc())
            .limit(int(max_vocab))
            .select("w")
            .withColumn("__in_v", F.lit(True))
            .localCheckpoint(eager=False)
        )

        def fold_unk(p: DataFrame) -> DataFrame:
            # NULL tokens (the outer-explode sentinel of a token-less
            # doc) must stay NULL, not become <unk>
            out = (
                p.join(F.broadcast(vocab), ["w"], "left")
                .withColumn(
                    "w",
                    F.when(
                        F.col("__in_v").isNotNull() | F.col("w").isNull(), F.col("w")
                    ).otherwise(F.lit(unk)),
                )
                .drop("__in_v")
            )
            pv = vocab.withColumnRenamed("w", "prev")
            return (
                out.join(F.broadcast(pv), ["prev"], "left")
                .withColumn(
                    "prev",
                    F.when(
                        F.col("__in_v").isNotNull()
                        | (F.col("prev") == bos)
                        | F.col("prev").isNull(),
                        F.col("prev"),
                    ).otherwise(F.lit(unk)),
                )
                .drop("__in_v")
            )

        tr_pairs = fold_unk(tr_pairs)

    # Both LM tables and V derive from the pair frame — barrier the
    # count table so the training scan runs once, then derive the
    # context totals and vocabulary size from the stored counts.
    bigrams = (
        tr_pairs.groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    contexts = bigrams.groupBy("prev").agg(F.sum("__c").alias("__cc"))
    # V rides the plan as a one-row aggregate crossJoined in — NO eager
    # action at construction time, so callers composing this operator
    # into a lazy pipeline (curate with_report=False) stay lazy
    v_frame = bigrams.agg(F.countDistinct("w").alias("__vsz"))

    # outer explode: token-less docs ride as one NULL-sentinel row, so
    # the per-doc aggregation below covers EVERY document in this one
    # scan — no second id-universe scan/join
    sc_pairs = _bigram_pairs(docs, text_col, id_col, bos, outer=True)
    if max_vocab is not None:
        sc_pairs = fold_unk(sc_pairs)
    k = float(add_k)
    # ANSI guard: an all-empty training corpus has V == 0, making the
    # denominator 0 for the NULL-sentinel rows (whose logp is masked
    # out below but still EVALUATED under ANSI) — found by the
    # hypothesis corpus generator, not by any fixture
    denom = F.coalesce(F.col("__cc"), F.lit(0)) + F.lit(k) * F.col("__vsz")
    logp = F.when(
        denom > 0,
        F.log((F.coalesce(F.col("__c"), F.lit(0)) + F.lit(k)) / denom),
    )
    real = F.col("w").isNotNull()
    # broadcast hints only when max_vocab bounds the tables; unbounded
    # LM tables (max_vocab=None) are AQE's call — see docstring
    if max_vocab is not None:
        bg_side, cx_side = F.broadcast(bigrams), F.broadcast(contexts)
    else:
        bg_side, cx_side = bigrams, contexts
    per_doc = (
        sc_pairs.join(bg_side, ["prev", "w"], "left")
        .join(cx_side, ["prev"], "left")
        .crossJoin(F.broadcast(v_frame))
        .select(id_col, F.col("w"), logp.alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.sum(F.when(real, 1).otherwise(0)).cast("bigint").alias("n_lm_tokens"),
            F.sum(F.when(real, F.col("__lp"))).alias("__s"),
        )
    )
    avg = F.when(F.col("n_lm_tokens") > 0, F.col("__s") / F.col("n_lm_tokens"))
    return per_doc.select(
        F.col(id_col),
        F.col("n_lm_tokens"),
        avg.alias("avg_logp"),
        F.exp(-avg).alias("ppl"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    *,
    add_k: float = 0.5,
    max_vocab: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    background_scored: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023,
    arXiv:2302.03169 "Data Selection for Language Models via
    Importance Resampling", reduced to the engine's bigram-LM
    features): ``log w(doc) = log p_target(doc) - log p_background
    (doc)`` where the target LM is trained on the trusted/target
    corpus and the background LM on ``docs`` itself. Documents whose
    token statistics look like the target domain get positive log
    weights; generic web noise goes negative. Returns ``(id,
    n_lm_tokens, log_weight)``; token-less docs get NULL weight.

    Deterministic and closed-form given the two corpora (the same
    add-k bigram construction as :func:`ngram_lm_score`), so the
    weights are oracle-graded (part='dsir' of ``x_language_id``).
    Sampling by these weights is :func:`dsir_sample`.

    100 TB shape: two LM trainings (one over ``target`` — usually the
    small trusted corpus — one over the raw corpus) and two scoring
    passes, each with the vocabulary-shaped tables and narrow
    explode+join+groupBy plan of ``ngram_lm_score``; set
    ``max_vocab`` at web scale for the same broadcast-bound reasons.
    The log-ratio join is id-keyed on two doc-count-sized frames.
    A pipeline that already ran the self-perplexity pass (the CCNet
    filter) can hand its UNROUNDED ``ngram_lm_score`` output in via
    ``background_scored`` — the background LM is then not retrained
    (and Catalyst's exchange reuse can share the scoring subtree
    when both legs sit in one plan)."""
    t = ngram_lm_score(
        docs, target, add_k=add_k, max_vocab=max_vocab,
        text_col=text_col, id_col=id_col,
    ).select(id_col, "n_lm_tokens", F.col("avg_logp").alias("__at"))
    if background_scored is None:
        background_scored = ngram_lm_score(
            docs, None, add_k=add_k, max_vocab=max_vocab,
            text_col=text_col, id_col=id_col,
        )
    b = background_scored.select(id_col, F.col("avg_logp").alias("__ab"))
    n = F.col("n_lm_tokens")
    lw = F.col("__at") * n - F.col("__ab") * n
    return t.join(b, [id_col]).select(
        F.col(id_col), n.alias("n_lm_tokens"), lw.alias("log_weight")
    )


def dsir_sample(
    docs: DataFrame,
    target: DataFrame,
    n: int,
    *,
    seed: int = 42,
    add_k: float = 0.5,
    max_vocab: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Importance RESAMPLING over :func:`dsir_weights` via the Gumbel
    top-k trick: sampling n docs without replacement with probability
    proportional to ``exp(log_weight)`` is equivalent to taking the
    top n by ``log_weight + G_i`` with i.i.d. standard Gumbel noise —
    no exp() overflow for long documents, no prefix-sum pass. The
    noise is the deterministic hash uniform ``u = xxhash64(id, seed)
    → (0,1)``, so the sample is a pure function of (corpora, seed),
    reproducible across runs and repartitionings (the same contract
    as hash_sample_k). Token-less docs carry no evidence and are
    excluded. Plan: the weight join + one TakeOrderedAndProject +
    a semi-join back to ``docs``."""
    w = dsir_weights(
        docs, target, add_k=add_k, max_vocab=max_vocab,
        text_col=text_col, id_col=id_col,
    ).filter(F.col("log_weight").isNotNull())
    u = (F.xxhash64(F.col(id_col), F.lit(seed)).cast("double") / F.lit(2.0 ** 63)
         + F.lit(1.0)) / F.lit(2.0)
    u = F.least(F.greatest(u, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    gumbel = -F.log(-F.log(u))
    pick = (
        w.withColumn("__gk", F.col("log_weight") + gumbel)
        .orderBy(F.col("__gk").desc(), id_col)
        .limit(int(n))
        .select(id_col)
    )
    return docs.join(pick, [id_col], "left_semi")


# First-occurrence selection in the dedup family orders by the STRUCT
# (id, position) — struct min/comparison is lexicographic in both
# Spark and the DuckDB oracle dialect, works for ANY orderable id type
# (ints, 64-bit hash ids, strings), and cannot overflow the way an
# arithmetic id*SHIFT+pos ordinal can for large ids or huge documents.


def _ord_struct(id_col: str, pos_col: str):
    return F.struct(F.col(id_col).alias("d"), F.col(pos_col).alias("p"))


def _excise_by_first_occurrence(
    framed: DataFrame,
    ex: DataFrame,
    expand_positions,
    min_count: int,
    id_col: str,
    arr_col: str = "__ws",
):
    """Shared tail of the dedup family: global first occurrence per
    key (min of the (id, position) struct), removal-position derivation via
    ``expand_positions`` (a DataFrame->Column(s) hook — span index for
    the grid op, an interval explode for the stride-1 op), one
    collect_set row per affected doc, and the in-place array filter.
    Returns (kept_elements Column, removal_count Column, joined frame).

    Two-phase shape (round-5 verdict ask #4 — the singleton
    pre-filter): a real corpus's keys are overwhelmingly singletons,
    so the ONLY corpus-keyed shuffle is a count over bare 8-byte keys
    (map-side combined; no (id, position) struct rides along for keys
    that will be discarded). Keys with count >= min_count — the
    boilerplate-shaped minority — are then resolved against the
    barriered slim frame: occurrence restriction, first-occurrence
    min, and the removal explode all run on the duplicate subset
    only. The duplicated-key joins carry NO broadcast hint: the
    tables are usually boilerplate-shaped, but a pathologically
    duplicated corpus grows them corpus-proportional — AQE picks
    broadcast when they fit and degrades to a shuffle join instead of
    a driver OOM."""
    counts = ex.groupBy("__key").agg(F.count(F.lit(1)).alias("__c"))
    dup_keys = counts.filter(F.col("__c") >= min_count).select("__key")
    # two consumers (first-occurrence agg + removal filter) — barrier
    # so the restriction join runs once
    dup_occ = ex.join(dup_keys, "__key").localCheckpoint(eager=False)
    firsts = dup_occ.groupBy("__key").agg(F.min("__ord").alias("__keep"))
    removed = (
        expand_positions(
            dup_occ.join(firsts, "__key").filter(F.col("__ord") != F.col("__keep"))
        )
        .groupBy(id_col)
        .agg(F.collect_set("__p").alias("__rm"))
    )
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col(arr_col), lambda s, i: ~F.array_contains(rm, i.cast("int"))
    )
    joined = framed.join(removed, [id_col], "left")
    return kept, F.size(rm), joined


def span_frame(
    docs: DataFrame,
    span_tokens: int = 5,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, __spans)``: each document's consecutive non-overlapping
    ``span_tokens``-word spans as an array column (empty for token-less
    docs). The shared framing of batch :func:`dedup_spans` and the
    streaming ingest span state."""
    span = int(span_tokens)
    ws = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    n_spans = F.ceil(F.size("__ws") / F.lit(span)).cast("int")
    spans = F.when(
        F.size("__ws") > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda sid: F.concat_ws(
                " ", F.slice(F.col("__ws"), sid * span + 1, span)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return ensure_min_parallelism(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), ws.alias("__ws")
    ).select(id_col, spans.alias("__spans"))


def span_keys(
    framed: DataFrame,
    *,
    hash_spans: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode a :func:`span_frame` into the slim
    ``(id, __sid, __key, __ord)`` rows — 8-byte xxhash64 keys by
    default (the only thing that ever crosses the wire), barriered so
    downstream count/join consumers tokenize the corpus once."""
    key = F.xxhash64(F.col("__span")) if hash_spans else F.col("__span")
    return (
        framed.select(id_col, F.posexplode("__spans").alias("__sid", "__span"))
        .select(
            id_col,
            F.col("__sid"),
            key.alias("__key"),
            _ord_struct(id_col, "__sid").alias("__ord"),
        )
        .localCheckpoint(eager=False)
    )


def dedup_spans(
    docs: DataFrame,
    span_tokens: int = 5,
    min_count: int = 2,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_spans: bool = True,
) -> DataFrame:
    """C4-style sub-document span deduplication (Raffel et al. 2020
    §2.2 deduplicated three-sentence spans; Lee et al. 2021 showed
    repeated spans inflate memorization): split every document into
    consecutive non-overlapping ``span_tokens``-word spans, and for
    any span occurring ≥ ``min_count`` times ACROSS the corpus keep
    only its globally-first occurrence (smallest ``(doc, span_idx)``),
    deleting the rest from their documents. Returns one row per input
    document: ``(id, text_deduped, n_spans, n_spans_removed)`` with
    the surviving spans rejoined in original order (``text_deduped``
    is NULL for token-less documents).

    This is the sub-document complement to ``exact_dedup`` (whole-doc)
    and ``near_dedup_minhash`` (whole-doc fuzzy): boilerplate
    headers/footers/navigation repeated across pages get excised while
    the unique prose stays.

    100 TB shape: the only corpus-sized exchanges carry
    ``(id, span_idx, key)`` rows — with ``hash_spans`` (the default)
    the key is 8 bytes of xxhash64, never span text — and that slim
    frame is BARRIERED (lazy localCheckpoint) so the corpus is
    tokenized once, not once per reference (count + removal join).
    The duplicated-span table (``key → first occurrence``) holds one
    row per distinct ≥min_count span — boilerplate-shaped, orders
    smaller than the corpus — and joins WITHOUT a broadcast hint (AQE
    broadcasts it when it fits; a pathologically duplicated corpus
    degrades to a shuffle join instead of a driver OOM).
    Removal indices come back as one small ``collect_set`` row per
    affected doc; reassembly filters the document's own span array
    in place (narrow). ``hash_spans=False`` keys by the span string
    itself (collision-free; the oracle path, pinned row-identical to
    the hashed path in tests)."""
    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    framed = span_frame(docs, span_tokens, text_col=text_col, id_col=id_col)
    ex = span_keys(framed, hash_spans=hash_spans, id_col=id_col)
    kept, n_rm, joined = _excise_by_first_occurrence(
        framed,
        ex,
        lambda r: r.select(id_col, F.col("__sid").alias("__p")),
        min_count,
        id_col,
        arr_col="__spans",
    )
    return joined.select(
        F.col(id_col),
        F.when(F.size("__spans") > 0, F.concat_ws(" ", kept)).alias("text_deduped"),
        F.size("__spans").cast("bigint").alias("n_spans"),
        n_rm.cast("bigint").alias("n_spans_removed"),
    )


# HTML entities every real extraction pipeline must unescape; applied
# AFTER tag removal so '&lt;b&gt;' cannot re-introduce angle brackets
# that the tag regex would then eat
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # LAST: '&amp;lt;' must yield '&lt;', not '<'
)


def strip_html(text_col: Column | str) -> Column:
    """Plain text from HTML markup — the first stage of every web-crawl
    curation pipeline (the trafilatura/jusText extraction contract,
    reduced to its deterministic core): drop ``<script>``/``<style>``
    payloads and comments entirely, replace every remaining tag with a
    space (so ``a<br>b`` stays two words), unescape the common
    entities, and collapse whitespace.

    Pure Catalyst ``regexp_replace``/``replace`` chain — whole-stage
    codegen, zero shuffle, linear in bytes. The regexes are written in
    the RE2-compatible subset (no backreferences, explicit whitespace
    classes) so the ANSI-SQL oracle evaluates the IDENTICAL patterns
    (graded as part='html' of ``x_text_stats``)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # script/style payloads: separate patterns (a backreference form
    # would not be RE2/oracle-portable)
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t\n\r\f]+", " ")
    return F.trim(c)


def fix_mojibake(text_col: Column | str) -> Column:
    """Repair the classic double-encoding corruption (UTF-8 bytes
    mis-decoded as Latin-1: '\u00c3\u00a9' for '\u00e9' — endemic in
    web crawls; the ftfy use case reduced to its dominant fix):
    re-encode the text as Latin-1 to recover the original bytes and
    re-decode them as UTF-8.

    Scope: pure Latin-1 mojibake (the accented-letter corruption that
    dominates real crawls). CP1252 variants whose continuation bytes
    were remapped to punctuation above U+00FF are NOT repaired —
    Spark's ``encode`` supports ISO-8859-1 but not windows-1252, so
    those cannot round-trip; the signature+lossless guards leave them
    untouched rather than half-fixed.

    Applied ONLY when (a) the text matches the mojibake signature — a
    UTF-8 lead byte seen as Latin-1 (U+00C2/C3, U+00E2, U+00CA)
    followed by a continuation byte seen as Latin-1 (U+0080-00BF)
    — and (b) the Latin-1 re-encode is lossless (every char < U+0100)
    and (c) the byte sequence is structurally valid UTF-8 (checked by
    regex BEFORE decoding — Spark 4's decode raises on malformed input
    rather than substituting U+FFFD, so the check must be a
    precondition, not a postcondition): any failure leaves the text
    untouched, so clean text that legitimately contains U+00C3 (or
    emoji, or any non-Latin-1 script) survives. Pure Catalyst (encode/decode/when),
    zero shuffle; charset transcoding is not expressible in the DuckDB
    oracle dialect, so this is pytest-pinned (round-trip goldens)
    rather than registry-graded."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    sig = c.rlike("[\u00c2\u00c3\u00e2\u00ca][\u0080-\u00bf]")
    # losslessness: EVERY char must be Latin-1-encodable. The class is
    # [^\x00-\xff] (not [\u0100-\uffff]) because Java regex matches
    # CODE POINTS: astral chars (emoji, U+10000+) are above U+FFFF and
    # would slip through the narrower class, then crash the encode.
    lossless = ~c.rlike("[^\x00-\xff]")
    # Spark 4's decode() RAISES MALFORMED_CHARACTER_CODING on invalid
    # UTF-8 (it does not substitute U+FFFD), so validity must be
    # proven BEFORE decoding: with chars==bytes (lossless), UTF-8
    # structure is checkable as a regex over the Latin-1 code points
    # (the W3C byte-pattern). CASE evaluates branches lazily per row,
    # so invalid rows never reach the decode.
    valid_utf8 = c.rlike(
        "^([\x00-\x7f]"
        "|[\u00c2-\u00df][\u0080-\u00bf]"
        "|\u00e0[\u00a0-\u00bf][\u0080-\u00bf]"
        "|[\u00e1-\u00ec][\u0080-\u00bf][\u0080-\u00bf]"
        "|\u00ed[\u0080-\u009f][\u0080-\u00bf]"
        "|[\u00ee-\u00ef][\u0080-\u00bf][\u0080-\u00bf]"
        "|\u00f0[\u0090-\u00bf][\u0080-\u00bf][\u0080-\u00bf]"
        "|[\u00f1-\u00f3][\u0080-\u00bf][\u0080-\u00bf][\u0080-\u00bf]"
        "|\u00f4[\u0080-\u008f][\u0080-\u00bf][\u0080-\u00bf])*$"
    )
    repaired = F.decode(F.encode(c, "ISO-8859-1"), "UTF-8")
    return F.when(sig & lossless & valid_utf8, repaired).otherwise(c)


def dedup_substrings(
    docs: DataFrame,
    min_tokens: int = 20,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """UNALIGNED exact-substring deduplication (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better"
    semantics, windowed): any ``min_tokens``-token sequence that occurs
    more than once ACROSS the corpus — at ANY token offset, unlike the
    fixed non-overlapping grid of :func:`dedup_spans` — survives only
    at its globally-first occurrence; every other occurrence has its
    covered tokens excised and the remaining tokens are rejoined.
    Returns ``(id, text_deduped, n_tokens, n_tokens_removed)``.

    Relationship to the paper: Lee et al. build a suffix array to
    remove duplicated substrings >= 50 tokens exactly; the windowed
    form removes exactly the token positions covered by some
    duplicated ``min_tokens``-gram, which equals the suffix-array
    coverage for any duplicated run >= ``min_tokens`` (a run of length
    R > L is covered by its R-L+1 constituent L-grams) — the
    approximation is only at the boundaries of partially-overlapping
    near-repeats. Rejoining non-adjacent survivors creates new
    adjacencies, as in the paper.

    100 TB shape: the corpus-sized frames carry
    ``(id, pos, xxhash64)`` — one row per token (stride-1 windows),
    ~24 B each, BARRIERED so tokenize runs once for the count and
    excision consumers; the duplicated-gram table is
    repetition-shaped and AQE-sized (no forced broadcast — see
    _excise_by_first_occurrence); excised positions come back as
    one ``collect_set`` row per affected doc (bounded by that doc's
    own token count); reassembly filters each doc's own token array in
    place. Corpus text never crosses the wire."""
    L = int(min_tokens)
    if L < 1:
        # min_tokens=0 would hash empty slices to one shared key and
        # emit DESCENDING removal intervals — garbage, not an error
        raise ValueError("min_tokens must be >= 1")
    ws = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    framed = ensure_min_parallelism(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), ws.alias("__ws")
    )

    n_tok = F.size("__ws")
    n_grams = F.greatest(n_tok - L + 1, F.lit(0))
    gram_keys = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(0), n_grams - 1),
            lambda p: F.xxhash64(F.concat_ws(" ", F.slice(F.col("__ws"), p + 1, L))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))

    ex = (
        framed.select(id_col, F.posexplode(gram_keys).alias("__pos", "__key"))
        .withColumn("__ord", _ord_struct(id_col, "__pos"))
        # count + excision both consume this frame — tokenize once
        .localCheckpoint(eager=False)
    )
    # every non-first occurrence covers tokens [pos, pos+L)
    kept, n_rm, joined = _excise_by_first_occurrence(
        framed,
        ex,
        lambda r: r.select(
            id_col,
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + F.lit(L - 1))
            ).alias("__p"),
        ),
        2,
        id_col,
        arr_col="__ws",
    )
    return joined.select(
        F.col(id_col),
        F.when(F.size("__ws") > 0, F.concat_ws(" ", kept)).alias("text_deduped"),
        F.size("__ws").cast("bigint").alias("n_tokens"),
        n_rm.cast("bigint").alias("n_tokens_removed"),
    )
