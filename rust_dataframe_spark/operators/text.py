"""Text analysis operators: token stats, quality scoring, language ID,
fingerprinting.  All pure `pyspark.sql.functions` compositions — elementwise,
codegen'd, shuffle-free — because at 100 TB the text-stats pass is scan-bound
and any per-row Python would dominate the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "chunk_text",
    "line_dedup",
    "nfc_normalize",
    "token_stats",
    "quality_score",
    "language_id",
    "fingerprint",
    "simpson_diversity",
    "hashed_linear_score",
    "bigram_logprob",
    "kneser_ney_logprob",
    "multinomial_nb",
    "ngram_novelty",
    "ngram_digest_index",
    "ngram_novelty_incremental",
    "STOPWORDS",
]

# Tiny per-language stopword lists for the n-gram/stopword-voting language-ID
# heuristic.  Deliberately minimal — the operator shape (literal-array overlap
# scoring) is what scales; swap in real lists for production.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "para", "en"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "人", "这"],
}

_WORDS = lambda c: F.split(c, " ")  # noqa: E731


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex token count
    (word pieces + punctuation as separate tokens) and char stats."""
    t = F.col(text_col)
    words = _WORDS(t)
    # BPE-ish: letter-runs, digit-runs, and single punctuation marks each count
    # as one token
    bpe_tokens = F.regexp_extract_all(t, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        F.size(words).alias("n_words"),
        F.size(bpe_tokens).alias("n_tokens"),
        F.round(F.length(F.regexp_replace(t, "[^a-zA-Z0-9\\s]", "")) / F.length(t), 6).alias(
            "alnum_ratio"
        ),
        F.size(F.array_distinct(words)).alias("n_unique_words"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str, lang: str = "en") -> DataFrame:
    """Heuristic document quality: length band + stopword ratio + lexical
    diversity + punctuation ratio, combined into [0, 1]."""
    t = F.col(text_col)
    words = _WORDS(t)
    n_words = F.size(words)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    stop_ratio = F.size(F.array_intersect(F.array_distinct(words), sw)) / F.lit(
        float(len(STOPWORDS[lang]))
    )
    diversity = F.size(F.array_distinct(words)) / n_words
    punct_ratio = (F.length(t) - F.length(F.regexp_replace(t, "[^a-zA-Z0-9 ]", ""))) / F.length(t)
    len_ok = F.when((n_words >= 10) & (n_words <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        F.lit(0.25) * len_ok
        + F.lit(0.25) * F.least(stop_ratio, F.lit(1.0))
        + F.lit(0.25) * diversity
        + F.lit(0.25) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return df.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(diversity, 6).alias("diversity"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-voting language ID: score = |words ∩ stopwords(lang)| per
    language; predicted language = argmax (ties broken by language code).

    The argmax over a fixed small set is a greatest-of-structs trick — still
    elementwise, no shuffle.
    """
    words = F.array_distinct(_WORDS(F.col(text_col)))
    scores = [
        F.struct(
            F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in ws]))).alias("score"),
            # invert code ordering so greatest() tie-breaks toward the
            # alphabetically-first language code
            F.lit(lang).alias("lang"),
        )
        for lang, ws in sorted(STOPWORDS.items(), reverse=True)
    ]
    best = F.greatest(*scores)
    return df.select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        best["score"].cast("int").alias("pred_score"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: exact (md5 of normalized text) and bag-of-words
    (md5 of sorted distinct words) — the latter survives word reordering."""
    t = F.col(text_col)
    norm = F.lower(F.regexp_replace(F.trim(t), "\\s+", " "))
    bag = F.array_join(F.array_sort(F.array_distinct(F.split(norm, " "))), " ")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("exact_fp"),
        F.md5(bag).alias("bag_fp"),
    )


def hash_sample(df: DataFrame, key_col: str, fraction: float, *, salt: str = "") -> DataFrame:
    """Deterministic content-addressed sample: keep rows where the first 8 hex
    chars of md5(key || salt), read as a uint32, fall under fraction * 2^32.

    Unlike ``df.sample`` (rand-seeded, partition-layout-dependent), this is
    reproducible across runs, engines, and repartitioning — the property a
    training-data pipeline needs so a holdout row NEVER leaks into training
    regardless of when or where the split is recomputed.  Change ``salt`` to
    draw an independent sample.
    """
    cutoff = int(fraction * (1 << 32))
    h = F.conv(F.substring(F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8), 16, 10).cast("bigint")
    return df.filter(h < cutoff)


def hash_split(df: DataFrame, key_col: str, weights: dict[str, float], *, salt: str = "") -> DataFrame:
    """Deterministic train/val/test split: adds a ``split`` column assigning
    each row to a named bucket with probability proportional to its weight,
    by the same uniform md5 hash as ``hash_sample``.  Weights must sum to 1.

    Stable under reshuffling and incremental reprocessing: a document's
    split is a pure function of its key — append-only pipelines can split
    new data daily without touching (or leaking into) old splits.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    h = F.conv(F.substring(F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8), 16, 10).cast("bigint")
    u = h / F.lit(float(1 << 32))  # uniform [0, 1)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        clause = F.when(u < acc, F.lit(name))
        expr = clause if expr is None else expr.when(u < acc, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4-style filters):
    mean word length, fraction of words that are the single most frequent
    word, and fraction of word-bigrams that are the most frequent bigram.
    High top-fractions mark boilerplate/spam for removal before training.

    Shape: explode words/bigrams -> count per (doc, gram) -> max per doc —
    two map-side-combined shuffles keyed by doc id, linear in corpus size;
    the wide per-doc arrays never cross a shuffle.
    """
    words = F.split(F.col(text_col), " ")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - 2, F.lit(0)) - 0),
        lambda i: F.concat_ws(" ", F.element_at(words, i + 1), F.element_at(words, i + 2)),
    )
    base = df.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        F.round(
            (F.length(F.col(text_col)) - F.size(words) + 1) / F.size(words), 6
        ).alias("mean_word_len"),
        words.alias("__w"),
        F.when(F.size(words) >= 2, F.slice(bigrams, 1, F.size(words) - 1)).otherwise(
            F.array()
        ).alias("__b"),
    )
    wc = (
        base.select(F.col(id_col), F.explode("__w").alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_w"))
    )
    bc = (
        base.select(F.col(id_col), F.explode("__b").alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_b"))
    )
    return (
        base.select(F.col(id_col), "n_words", "mean_word_len")
        .join(wc, id_col, "left")
        .join(bc, id_col, "left")
        .select(
            F.col(id_col),
            "n_words",
            "mean_word_len",
            F.round(F.col("top_w") / F.col("n_words"), 6).alias("top_word_frac"),
            F.round(
                F.col("top_b") / F.greatest(F.col("n_words") - 1, F.lit(1)), 6
            ).alias("top_bigram_frac"),
        )
    )


_PII_PATTERNS = {
    # deliberately simple, deterministic patterns — production would plug in
    # a vetted library; the operator shape (count + redact, one projection)
    # is what matters at scale
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def pii_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Count PII-ish matches (emails, URLs, phone numbers) per document —
    the routing signal for redact-vs-drop decisions in a cleaning pipeline.
    Pure regexp_extract_all projections: elementwise, codegen'd, no shuffle.
    """
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).alias(f"n_{name}")
            for name, pat in _PII_PATTERNS.items()
        ],
    )


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Replace PII-ish spans with typed placeholders (``<EMAIL>`` etc.),
    chained regexp_replace — one elementwise projection, order fixed
    (emails before phones so phone-like digit runs inside emails don't
    double-fire)."""
    t = F.col(text_col)
    for name, pat in _PII_PATTERNS.items():
        t = F.regexp_replace(t, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), t.alias("text"))


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into fixed-size overlapping token windows — the
    chunking step of RAG indexing and long-document training prep.

    Chunk k covers words [k*stride, k*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short; every
    document yields at least one chunk.  Returns (id, chunk_id, chunk_text,
    n_tokens).

    Scale: one generate-and-explode per document (posexplode over a
    sequence, slices in codegen) — narrow, no shuffle; output row count =
    ceil(tokens/stride) per doc, the same expansion a tokenizer pipeline
    pays anyway.
    """
    if chunk_tokens <= 0 or not (0 <= overlap < chunk_tokens):
        raise ValueError(
            f"need chunk_tokens > 0 and 0 <= overlap < chunk_tokens, "
            f"got {chunk_tokens}, {overlap}"
        )
    stride = chunk_tokens - overlap
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    n_extra = F.greatest(n_words - chunk_tokens, F.lit(0))
    # ceil(n_extra / stride) via floor((n_extra + stride - 1) / stride)
    n_chunks = (F.lit(1) + F.floor((n_extra + (stride - 1)) / stride)).cast("int")
    exploded = df.select(
        F.col(id_col),
        n_words.alias("__nw"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda k: F.array_join(F.slice(words, k * stride + 1, chunk_tokens), " "),
            )
        ).alias("chunk_id", "chunk_text"),
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.col("chunk_text"),
        F.least(
            F.lit(chunk_tokens), F.col("__nw") - F.col("chunk_id") * stride
        ).alias("n_tokens"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delim: str = "\n",
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level line deduplication (the CCNet / RefinedWeb boilerplate
    pass): any line that appears verbatim in >= ``min_docs`` DISTINCT
    documents is removed from EVERY document; surviving lines are re-joined
    in their original order.  Returns (id, text, n_kept, n_dropped) — a doc
    whose every line is boilerplate survives with empty text, not silently
    dropped.

    Scale shape: the blocklist (lines with document-frequency >= min_docs)
    is tiny relative to the corpus — frequent strings are few by definition —
    so it is built with one narrow groupBy on the line digest and BROADCAST
    back; the per-line pass is then a map-side anti join, no second shuffle
    of the corpus.  Lines travel through the frequency agg as md5 digests,
    never as text (16 B/line of shuffle, same trick as exact_dedup; 128-bit
    so digest collisions stay impossible even at 10^11 lines, where a 64-bit
    hash would birthday-collide).  Reassembly groups by doc id — one shuffle
    of the surviving lines, which the pipeline pays once.
    """
    import re

    lines = df.select(
        F.col(id_col),
        # F.split takes a REGEX — escape so '.', '|' etc. work as delimiters
        F.posexplode(F.split(F.col(text_col), re.escape(delim))).alias(
            "__pos", "__line"
        ),
    )
    hot = (
        lines.groupBy(F.md5("__line").alias("__h"))
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__h")
    )
    marked = lines.join(
        F.broadcast(hot), F.md5(F.col("__line")) == F.col("__h"), "left"
    ).withColumn("__drop", F.col("__h").isNotNull())
    rebuilt = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__drop"), F.struct("__pos", "__line")
                        )
                    )
                ),
                lambda s: s["__line"],
            ),
            delim,
        ).alias(text_col),
        F.sum(F.when(~F.col("__drop"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("__drop"), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
    )
    return rebuilt


def strip_markup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """HTML/markup normalization for crawl ingestion: drop tags, unescape the
    five XML entities, collapse whitespace, trim.  Returns (id, text).

    All regexp/replace compositions — elementwise, codegen'd, shuffle-free;
    at 100 TB this pass is scan-bound next to the parse-heavy alternatives
    (a real DOM parser belongs in a mapInPandas stage only when structure,
    not text, is needed — same gating as operators/multimodal).
    """
    t = F.col(text_col)
    t = F.regexp_replace(t, "<[^>]*>", " ")
    for ent, ch in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # last, so &amp;lt; decodes as literal &lt; text
    ]:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return df.select(F.col(id_col), t.alias(text_col))


def inverse_frequency_score(
    df: DataFrame, id_col: str, text_col: str, *, scale: int = 1000
) -> DataFrame:
    """Corpus-LM quality proxy (the CCNet-style perplexity filter, log-free):
    per-token surprisal = corpus_tokens / token_count, accumulated per doc in
    FIXED-POINT (floor(N * scale / cnt)) so the per-doc sum is an integer —
    associative, bit-identical under any partitioning/retry history (a float
    log-prob sum is not; same rationale as the rational idf in
    operators/ranking).  Returns (id, n_tokens, surprisal_milli, avg_surprisal)
    where avg_surprisal = surprisal_milli / n_tokens / scale, rounded to 6.

    High score = rare-word-heavy (possibly gibberish), low = boilerplate of
    corpus-common words; production filters cut both tails.  Shape: one
    explode + two map-side-combined aggs; the vocabulary table joins on the
    token (vocab-sized — broadcast when bounded, AQE decides otherwise).
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__w")
    )
    vocab = toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__cnt"))
    n_total = toks.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        toks.join(vocab, "__w")
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col(id_col),
            F.floor(F.col("__n") * scale / F.col("__cnt")).alias("__surp"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum("__surp").cast("bigint").alias("surprisal_milli"),
        )
        .withColumn(
            "avg_surprisal",
            # floor-at-6 instead of round: the integer ratio lands on
            # .xxxxxx5 (e.g. 2406083/80/1000), where Spark's and DuckDB's
            # round() tie-break differently; floor of the same double is
            # engine-stable (sf0.1 gate finding)
            F.floor(
                F.col("surprisal_milli")
                / F.col("n_tokens")
                / F.lit(float(scale))
                * F.lit(1e6)
            )
            / F.lit(1e6),
        )
    )


def wordpiece_tokenize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: list[str],
    *,
    unk: str = "[UNK]",
    broadcast_words: bool = True,
) -> DataFrame:
    """Greedy longest-match subword tokenization (the WordPiece matching rule,
    no ## continuation markers): within each word, repeatedly take the longest
    vocab piece that prefixes the remainder; an unmatched character emits
    ``unk`` and advances one char.  Returns (id, pos, word, pieces).

    Scale design — the load-bearing trick: tokenize each DISTINCT word once,
    then join back.  Natural-language corpora obey Heaps' law (vocabulary
    grows ~sqrt of corpus), so the Python-side work is vocabulary-bounded
    while the corpus only pays a word-keyed join (broadcast when the distinct
    table fits).  The per-word matcher is an Arrow-batched Pandas UDF — a
    char-position loop is genuinely non-decomposable into column algebra
    (same gating rationale as SimHash in operators/dedup).
    """
    import pandas as pd

    vocab_set = frozenset(vocab)
    if not vocab_set:
        raise ValueError("vocab must be non-empty")
    max_len = max(len(p) for p in vocab_set)

    def _tok_word(w: str) -> list[str]:
        out, pos, n = [], 0, len(w)
        while pos < n:
            for ln in range(min(max_len, n - pos), 0, -1):
                piece = w[pos : pos + ln]
                if piece in vocab_set:
                    out.append(piece)
                    pos += ln
                    break
            else:
                out.append(unk)
                pos += 1
        return out

    def _tok(s):
        return s.map(_tok_word)

    _tok.__annotations__ = {"s": pd.Series, "return": pd.Series}
    tok_udf = F.pandas_udf(_tok, "array<string>")

    words = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "__w")
    )
    toked = words.select("__w").distinct().withColumn("pieces", tok_udf(F.col("__w")))
    if broadcast_words:  # Heaps'-law vocabularies fit; pass False for id-like columns
        toked = F.broadcast(toked)
    return words.join(toked, "__w").select(
        F.col(id_col), F.col("pos"), F.col("__w").alias("word"), F.col("pieces")
    )


def nfc_normalize(df: DataFrame, id_col: str, text_col: str, *, form: str = "NFC") -> DataFrame:
    """Unicode normalization (NFC by default) — the multilingual-corpus
    hygiene pass that makes 'e'+COMBINING-ACUTE and precomposed 'é' the same
    token/shingle/digest.  Skipping it silently splits dedup groups and
    vocabulary entries for any non-ASCII corpus.

    Spark has no normalization builtin, so this is an Arrow-batched Pandas
    UDF over stdlib ``unicodedata`` — per-row Python is unavoidable here,
    which is exactly the case the Pandas-UDF gating rationale (SimHash,
    multimodal) reserves the slow path for.  Elementwise, shuffle-free.
    """
    import unicodedata

    import pandas as pd

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def _norm(s):
        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    _norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_norm, "string")
    return df.withColumn(text_col, udf(F.col(text_col)))


def bpe_pair_counts(
    df: DataFrame,
    text_col: str,
    *,
    min_word_len: int = 2,
    top_k: int | None = None,
) -> DataFrame:
    """Adjacent-symbol pair frequencies — the counting step of a BPE
    tokenizer-training iteration (the merge rule picks the top pair; q162's
    wordpiece applies the finished vocab, this is how that vocab is *made*).

    Two-level aggregation keeps the corpus out of the pair explosion: words
    aggregate to DISTINCT (word, count) first (Heaps'-law bounded, the same
    trick as wordpiece_tokenize), then each distinct word explodes into its
    ``len-1`` adjacent character pairs via a codegen'd ``transform`` over
    ``sequence`` — no Python, no shuffle of per-occurrence rows.  Pair
    counts weight by word frequency.

    Returns ``(pair, cnt)`` sorted by descending count.  A full BPE trainer
    loops: count -> pick top pair -> re-segment affected words (only words
    containing the pair — a filtered join, not a corpus rewrite) -> repeat;
    each round's Python surface stays vocabulary-sized.
    """
    words = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w")
        )
        .filter(F.length("w") >= min_word_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    out = (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
    )
    return out.limit(top_k) if top_k else out


def temperature_mixture(
    df: DataFrame,
    source_col: str,
    weight_col: str,
    *,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Temperature-based mixture sampling: downsample each source so its
    share of the kept corpus follows ``p_s ∝ (mass_s)^alpha`` — the standard
    multilingual/multi-source rebalancing rule (alpha=1 keeps natural
    proportions, alpha→0 approaches uniform; 0.3–0.7 is the usual range for
    upweighting tail sources).  ``budget_frac`` sets the kept fraction of
    total mass; per-source keep-rates are capped at 1 (no upsampling — pair
    with an explicit replication step if tail sources must repeat).

    Rows keep/drop by the same deterministic md5(key||salt) coin as
    hash_sample, so the mixture is reproducible across runs, engines,
    repartitioning and incremental reprocessing.

    Determinism discipline (the same rules as the decimal TPC-H money sums):
    per-source mass accumulates as exact DECIMAL; the tempered weight is
    ``round(sqrt(mass), 6)`` — sqrt is IEEE correctly-rounded, and the round
    + decimal cast makes the cross-source weight SUM exact and
    partition-order-independent (a raw double sum's last ulp floats with
    aggregation order and would flip coin-boundary rows between engines).
    alpha other than 0.5/1.0 goes through pow(), whose last ulp is
    libm-dependent — fine in production, but the cross-engine oracle pins
    0.5.

    Scale: the rate table is #sources rows (one aggregate, broadcast back);
    the corpus pays one codegen'd filter.  Rates recompute from totals, so
    incremental ingest just re-runs the filter.
    """
    if alpha == 0.5:
        wexp = lambda c: F.sqrt(c)
    elif alpha == 1.0:
        wexp = lambda c: c
    else:
        wexp = lambda c: F.pow(c, F.lit(alpha))
    stats = df.groupBy(source_col).agg(
        F.sum(F.col(weight_col).cast("decimal(28,4)")).alias("_mass")
    )
    w = F.round(wexp(F.col("_mass").cast("double")), 6).cast("decimal(28,6)")
    tot = stats.agg(
        F.sum("_mass").alias("_total"), F.sum(w).alias("_wsum")
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.least(
            F.lit(1.0),
            F.lit(float(budget_frac))
            * F.col("_total").cast("double")
            * w.cast("double")
            / (F.col("_wsum").cast("double") * F.col("_mass").cast("double")),
        ).alias("_rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 32))
    )
    return df.join(F.broadcast(rates), source_col).filter(u < F.col("_rate")).drop("_rate")


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    weights: list[float],
    bias: float = 0.0,
    salt: str = "hls",
) -> DataFrame:
    """fastText-style linear text-classifier INFERENCE with the hashing
    trick (Joulin et al. 2017; Weinberger et al. 2009) — the "quality
    classifier" scoring step of CCNet-style corpus filtering, run as pure
    whole-stage-codegen DataFrame code.

    Each lowercased whitespace token hashes (md5, engine-replayable) into
    one of ``len(weights)`` buckets; the document margin is ``bias +
    mean(weights[bucket(t)])`` (fastText's mean-of-embeddings pooling for
    a depth-0 model) and ``prob = sigmoid(margin)``.  Returns ``(id,
    n_tokens, margin, prob)``.

    Scale: ONE pass over the scan — the weight vector rides as an array
    literal indexed by ``element_at`` inside an ``F.aggregate`` fold, so
    there is no explode, no join, no shuffle, and no Python; scoring 100 TB
    is embarrassingly parallel.  Weight vectors beyond literal size
    (≳100k buckets) switch to the explode + broadcast-weight-table join
    form — same answer, one extra shuffle on the doc id.  Training the
    weights is out of scope by design (that's a GPU job); this is the
    inference operator a curation pipeline actually runs at corpus scale.
    """
    if not weights:
        raise ValueError("weights must be a non-empty list (one per bucket)")
    nb = len(weights)
    warr = F.array(*[F.lit(float(w)) for w in weights])

    def bucket(t):
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(t, F.lit("#" + salt))), 1, 8), 16, 10
            ).cast("bigint"),
            F.lit(nb),
        )

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    ssum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.element_at(warr, (bucket(t) + 1).cast("int")),
    )
    n = F.size(toks)
    margin = F.when(n > 0, F.lit(float(bias)) + ssum / n).otherwise(
        F.lit(float(bias))
    )
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        margin.alias("margin"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("prob"),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document average log-probability under the corpus's own add-α
    smoothed bigram language model — the KenLM-shape "does this text look
    like the corpus" quality signal (CCNet filters on exactly this;
    inverse_frequency_score is the unigram version, this conditions on the
    previous word so boilerplate with plausible unigrams but improbable
    transitions scores low).

    Model: ``P(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V)`` with V = distinct
    unigram vocabulary size.  Returns ``(id, n_bigrams, avg_logprob,
    ppl)`` with ``ppl = exp(-avg_logprob)``; single-word/empty docs carry
    ``n_bigrams = 0`` and null score.

    Scale: two count aggregates over the corpus (unigram and bigram tables
    — Heaps'-bounded, far smaller than the corpus), one equi-join of the
    per-doc bigram stream against each (shuffle keyed on the n-gram
    strings; frequency skew on "of the"-class bigrams is exactly what AQE
    skew-split handles), and V rides as a 1-row broadcast.  Everything is
    codegen'd; no Python.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    base = df.select(F.col(id_col), toks.alias("__w"))
    # upper bound clamped to >=1 so sequence never descends through index 0
    # on 0/1-token docs; the slice then truncates those docs to zero pairs
    pairs = F.slice(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - 1, F.lit(1))),
            lambda i: F.struct(
                F.element_at("__w", i).alias("a"),
                F.element_at("__w", i + 1).alias("b"),
            ),
        ),
        1,
        F.greatest(F.size("__w") - 1, F.lit(0)),
    )
    grams = base.select(F.col(id_col), F.explode(pairs).alias("__g")).select(
        F.col(id_col), F.col("__g.a").alias("a"), F.col("__g.b").alias("b")
    )
    unis = base.select(F.explode("__w").alias("t"))
    c1 = unis.groupBy(F.col("t").alias("a")).agg(F.count(F.lit(1)).alias("c1"))
    c2 = grams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2"))
    vocab = unis.agg(F.count_distinct("t").alias("__V"))
    scored = (
        grams.join(c2, ["a", "b"])
        .join(c1, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.log(
                (F.col("c2") + F.lit(alpha))
                / (F.col("c1") + F.lit(alpha) * F.col("__V"))
            ).alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("__lp").alias("avg_logprob"),
    )
    # docs with <2 tokens never emit a bigram: surface them with n=0
    all_ids = df.select(F.col(id_col)).distinct()
    return (
        all_ids.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias(
                "n_bigrams"
            ),
            F.col("avg_logprob"),
            F.exp(-F.col("avg_logprob")).alias("ppl"),
        )
    )


def kneser_ney_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document average log-probability under the corpus's own
    INTERPOLATED KNESER-NEY smoothed bigram LM — the smoothing the real
    CCNet/KenLM perplexity filters use (add-α, :func:`bigram_logprob`,
    over-penalizes frequent-word contexts; KN discounts mass per observed
    bigram TYPE and backs off to the continuation distribution "how many
    contexts does w2 follow", the published fix — Kneser & Ney 1995,
    Chen & Goodman 1999).

    Model, with the standard discount D = 3/4 kept RATIONAL so both
    engines compute the identical integer numerator::

        P(b|a) = (max(c(a,b) - D, 0) + D * n1+(a,·) * n1+(·,b)/N) / c(a,·)
               = (max(4*c2 - 3, 0) * N + 3 * n1f(a) * n1b(b))
                 / (4 * ctx(a) * N)                       # exact int64

    where ``c(a,·)`` is the left-context total, ``n1+(a,·)`` / ``n1+(·,b)``
    the forward/backward distinct-continuation counts, and N the number of
    distinct bigram types.  One float expression at the end (ln of the
    int64 ratio), per-doc ``avg`` rounded by the caller — the q317
    discipline.  Returns ``(id, n_bigrams, avg_logprob, ppl)``.

    Scale: every model table is (gram, count)-keyed and Heaps'-bounded —
    bigram counts, two distinct-continuation aggregates over the SAME
    bigram table (no second corpus scan), N as a 1-row broadcast; scoring
    is one equi-join of the per-doc bigram stream (AQE skew-split on
    "of the"-class keys), identical plan shape to bigram_logprob.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    base = df.select(F.col(id_col), toks.alias("__w"))
    pairs = F.slice(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - 1, F.lit(1))),
            lambda i: F.struct(
                F.element_at("__w", i).alias("a"),
                F.element_at("__w", i + 1).alias("b"),
            ),
        ),
        1,
        F.greatest(F.size("__w") - 1, F.lit(0)),
    )
    from .cache import persist_tracked

    # grams is NOT persisted although it fans into two consumers (the c2
    # census and the scoring join): an interleaved 16-rep A/B at sf0.1 on
    # 4 cores measured q403 at 0.722 s / 20 jobs with the persist vs
    # 0.702 s / 18 jobs without, same rows — the persist job costs more
    # than re-running the split/lower/explode tokenization.
    grams = base.select(F.col(id_col), F.explode(pairs).alias("__g")).select(
        F.col(id_col), F.col("__g.a").alias("a"), F.col("__g.b").alias("b")
    )
    c2 = persist_tracked(
        grams.groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    ctx = c2.groupBy("a").agg(
        F.sum("c2").cast("bigint").alias("ctx"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    bwd = c2.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    ntypes = c2.agg(F.count(F.lit(1)).cast("bigint").alias("__N"))
    scored = (
        grams.join(c2, ["a", "b"])
        .join(ctx, "a")
        .join(bwd, "b")
        .crossJoin(F.broadcast(ntypes))
        .select(
            F.col(id_col),
            F.log(
                (
                    F.greatest(4 * F.col("c2") - 3, F.lit(0)) * F.col("__N")
                    + 3 * F.col("n1f") * F.col("n1b")
                ).cast("double")
                / (4 * F.col("ctx") * F.col("__N")).cast("double")
            ).alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("__lp").alias("avg_logprob"),
    )
    all_ids = df.select(F.col(id_col)).distinct()
    return all_ids.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias(
            "n_bigrams"
        ),
        F.col("avg_logprob"),
        F.exp(-F.col("avg_logprob")).alias("ppl"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY against the rest of the corpus in
    ``id_col`` (ingestion) order: what fraction of this doc's distinct
    n-grams does the corpus see here FIRST?  A verbatim copy of an earlier
    doc scores 0, fresh text scores ~1 — the curriculum/priority signal
    between exact dedup (all-or-nothing) and near-dup Jaccard (pairwise):
    it prices *partial* recycling per document without materializing any
    pair.

    Shape: explode distinct shingles → ``md5`` digest (the shuffle carries
    32 B digests, never shingle text — operators/dedup.py discipline) →
    ``min(id)`` per digest (first-seen owner, one partial-agg shuffle) →
    join back, per-doc counts.  Returns ``(id, n_shingles, n_novel,
    novelty)``.  Ties are exact: a shingle is novel only for the single
    smallest id carrying it, so corpus-wide ``sum(n_novel)`` equals the
    corpus's distinct-shingle count — a built-in conservation check.
    """
    from .dedup import shingle

    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle(F.lower(F.col(text_col)), n))).alias(
            "__s"
        ),
    ).select(F.col(id_col), F.md5("__s").alias("__h"))
    first = sh.groupBy("__h").agg(F.min(id_col).alias("__first"))
    return (
        sh.join(first, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("__first") == F.col(id_col)).cast("int")).alias(
                "n_novel"
            ),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_shingles"))
    )


def simpson_diversity(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Lexical diversity per document: the Gini-Simpson index
    ``1 - sum_i c_i^2 / n^2`` over whitespace-token counts (probability two
    random tokens are different) plus the type-token ratio — repetition
    signals complementary to the Gopher top-fraction stats (q95): Simpson
    responds to the WHOLE count distribution, not just the head.

    Entropy would need per-engine ``log`` (libm last-ulp hazard); Simpson is
    its log-free stand-in with the same ranking role — both sums are exact
    64-bit integers, so the two closing divisions are bit-identical across
    engines (the repo's determinism discipline).

    Returns (id, n_tokens, n_types, sum_sq, ttr, simpson).  Scale: explode ->
    two map-side-combined integer aggregates; no joins, no floats in flight.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    ).filter(F.col("__tok") != "")
    counts = toks.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("__c") * F.col("__c")).alias("sum_sq"),
    )
    n = F.col("n_tokens")
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "n_types",
        "sum_sq",
        F.round(F.col("n_types").cast("double") / n.cast("double"), 6).alias("ttr"),
        F.round(
            F.lit(1.0) - F.col("sum_sq").cast("double") / (n * n).cast("double"), 6
        ).alias("simpson"),
    )


def apply_bpe_merge(syms_col, a: str, b: str):
    """Apply ONE BPE merge rule (a, b) -> 'ab' to a symbol-array column with
    the faithful greedy left-to-right non-overlap semantics ('a a a a' +
    (a,a) -> ['aa','aa']), as one codegen'd fold with (accumulated array,
    pending symbol) struct state — shared by the trainer (bpe_train) and
    the applier (bpe_apply)."""
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("pend"),
    )

    # the step must also flush the PREVIOUS pend when no pair forms
    def step(st, s):
        is_pair = st["pend"].isNotNull() & (st["pend"] == a) & (s == b)
        acc = (
            F.when(st["pend"].isNull(), st["acc"])
            .when(is_pair, F.concat(st["acc"], F.array(F.concat(st["pend"], s))))
            .otherwise(F.concat(st["acc"], F.array(st["pend"])))
        )
        pend = F.when(is_pair, F.lit(None).cast("string")).otherwise(s)
        return F.struct(acc.alias("acc"), pend.alias("pend"))

    return F.aggregate(
        syms_col,
        init,
        step,
        lambda st: F.when(st["pend"].isNull(), st["acc"]).otherwise(
            F.concat(st["acc"], F.array(st["pend"]))
        ),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    *,
    min_word_len: int = 2,
    batch_merges: int = 8,
    checkpoint_every: int = 50,
    stats: dict | None = None,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Train ``n_merges`` BPE merge rules (Sennrich et al. 2016) — the full
    trainer q200's pair counting is one iteration of: count adjacent symbol
    pairs over the DISTINCT-word table (Heaps'-law bounded, weighted by word
    frequency), adopt the most frequent pair as a merge rule (ties broken
    lexicographically so training is deterministic), apply it corpus-wide,
    repeat.  Returns (ordered merge rules, final symbolized word table
    ``(word, n, syms)``).

    The merge application is the faithful greedy left-to-right non-overlap
    fold (``'a a a a'`` + rule (a,a) -> ``'aa aa'``), expressed as ONE
    codegen'd ``F.aggregate`` with (accumulated array, pending symbol)
    struct state — no Python per row.

    Scale (VERDICT r3 next-round #2 — the batched trainer): a real 32k-merge
    vocabulary cannot afford one scan + driver round-trip PER merge.  Each
    scan therefore adopts up to ``batch_merges`` rules at once: candidates
    are taken in descending (count, lexicographic) order and accepted while
    **symbol-disjoint** from every earlier acceptance in the batch (no shared
    input symbol and no collision with a symbol the batch just created);
    selection STOPS at the first conflict rather than skipping past it.
    Disjoint merges commute and leave each other's pair counts invariant, so
    every accepted rule's stale count is its true count at adoption time —
    the batched rule list matches the sequential (batch_merges=1) trainer
    except in the rare case where a brand-new pair (one containing a symbol
    created earlier in the same batch) would have outranked a later batch
    member; parity on the classic Sennrich fixture is test-pinned
    (tests/test_analytics.py::test_bpe_train_batched_matches_sequential).

    Driver cost: O(n_merges / batch_merges) scans, each collecting ≤
    ``batch_merges`` rows.  All of a batch's merges apply as ONE chained
    plan of codegen'd folds; lineage is truncated with ``localCheckpoint``
    every ``checkpoint_every`` scans (plain persist between) so a 32k-merge
    run never accretes an unbounded plan.  Pass a dict as ``stats`` to
    receive ``{"n_scans": k}`` back.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if batch_merges < 1:
        raise ValueError(f"batch_merges must be >= 1, got {batch_merges}")
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") >= min_word_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w", "n", F.split(F.col("w"), "").alias("syms"))
    )

    def pair_counts(t: DataFrame) -> DataFrame:
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("a"), F.element_at("syms", i + 1).alias("b")
            ),
        )
        return (
            t.filter(F.size("syms") >= 2)
            .select("n", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )

    merges: list[tuple[str, str]] = []
    cur = words
    from .cache import persist_tracked

    n_scans = 0
    while len(merges) < n_merges:
        n_scans += 1
        room = n_merges - len(merges)
        cand = (
            pair_counts(cur)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(min(batch_merges, room))
            .collect()
        )
        if not cand:
            break
        batch: list[tuple[str, str]] = []
        used: set[str] = set()
        for row in cand:
            a, b = row["a"], row["b"]
            if a in used or b in used:
                break  # stale counts below a conflict may be invalid: stop
            batch.append((a, b))
            used.update((a, b, a + b))
        merges.extend(batch)
        syms = F.col("syms")
        for a, b in batch:
            syms = apply_bpe_merge(syms, a, b)
        cur = cur.select("w", "n", syms.alias("syms"))
        if n_scans % checkpoint_every == 0:
            cur = cur.localCheckpoint()
        else:
            cur = persist_tracked(cur)
    if stats is not None:
        stats["n_scans"] = n_scans
    return merges, cur


def bpe_apply(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    *,
    min_word_len: int = 2,
) -> DataFrame:
    """Apply an ordered list of trained BPE merge rules to a corpus —
    tokenizer SERVING to bpe_train's tokenizer TRAINING.  Returns the
    distinct-word table (w, n, syms): each word's final symbol sequence
    after every merge, identical to what the trainer's own loop produced
    (pinned by the round-trip test).

    Scale: the merges compose into ONE lazy plan of chained folds over the
    Heaps'-bounded distinct-word table; the corpus is touched once for the
    word census.  For vocabularies of thousands of merges, checkpoint every
    ~50 merges (the trainer's persist cadence) to bound the expression tree.
    """
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") >= min_word_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w", "n", F.split(F.col("w"), "").alias("syms"))
    )
    syms = F.col("syms")
    for a, b in merges:
        syms = apply_bpe_merge(syms, a, b)
    return words.select("w", "n", syms.alias("syms"))


def ngram_digest_index(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3
) -> DataFrame:
    """First-seen digest index for :func:`ngram_novelty`: one ``(h,
    first_id)`` row per distinct shingle digest in the corpus.  Materialize
    ONCE (parquet, bucketed by ``h``) and score every future ingestion
    batch against it with :func:`ngram_novelty_incremental` — O(batch)
    daily instead of re-scanning the corpus (the same persisted-index
    posture as dedup.lsh_band_index)."""
    from .dedup import shingle

    sh = df.select(
        F.col(id_col).alias("__first"),
        F.explode(F.array_distinct(shingle(F.lower(F.col(text_col)), n))).alias(
            "__s"
        ),
    ).select(F.md5("__s").alias("h"), F.col("__first"))
    return sh.groupBy("h").agg(F.min("__first").alias("first_id"))


def ngram_novelty_incremental(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Novelty of a NEW ingestion batch against a persisted first-seen
    index, plus the index delta to append — the incremental form of
    :func:`ngram_novelty` for daily-append pipelines.

    Returns ``(per_doc, index_delta)``: ``per_doc`` has the same
    ``(id, n_shingles, n_novel, novelty)`` schema as the batch operator
    and — provided batch ids sort after all indexed ids — EQUALS what the
    batch operator would report for these docs on the full corpus
    (parity-pinned in tests).  ``index_delta`` is the new ``(h,
    first_id)`` rows; ``index.unionByName(delta)`` (or an append write) is
    the next index.

    Scale: the batch's digests probe the index with one equi-join on ``h``
    (bucketed index → co-located probe, no index shuffle); everything else
    is per-batch aggregates.  The old corpus is never rescanned.
    """
    from .dedup import shingle

    sh = new_df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle(F.lower(F.col(text_col)), n))).alias(
            "__s"
        ),
    ).select(F.col(id_col), F.md5("__s").alias("h"))
    probed = sh.join(index.select("h", "first_id"), "h", "left")
    batch_first = sh.groupBy("h").agg(F.min(id_col).alias("__bfirst"))
    per_doc = (
        probed.join(batch_first, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (
                    F.col("first_id").isNull()
                    & (F.col("__bfirst") == F.col(id_col))
                ).cast("int")
            ).alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_shingles"))
    )
    delta = (
        probed.filter(F.col("first_id").isNull())
        .groupBy("h")
        .agg(F.min(id_col).alias("first_id"))
    )
    return per_doc, delta


def unigram_tokenize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: dict[str, float],
    *,
    unk: str = "[UNK]",
    unk_score: float = -100.0,
    broadcast_words: bool = True,
) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenization: per word, the Viterbi
    max-score segmentation over a scored piece vocabulary — the third
    tokenizer family after greedy WordPiece (wordpiece_tokenize) and merge-
    list BPE (bpe_apply).  ``vocab`` maps piece -> additive score (log-prob);
    every position also has an ``unk`` single-char edge at ``unk_score`` so
    all words are segmentable.  Ties break on the lexicographically smallest
    piece sequence, which is DP-consistent: two equal-score prefixes of the
    same character span can never be tuple-prefixes of each other, so the
    first differing piece is decided inside the prefix.

    Returns (id, pos, word, pieces, score).

    Scale design: identical to wordpiece_tokenize — Viterbi runs once per
    DISTINCT word (Heaps'-law bounded, Arrow-batched Pandas UDF with the
    vocabulary broadcast in the closure), and the corpus pays only a
    broadcast word-keyed join.  Reference parity: the reference engine
    (/root/reference) has no tokenizer surface; this is north-star scope
    for LLM-corpus token accounting.
    """
    import pandas as pd

    if not vocab:
        raise ValueError("vocab must be non-empty")
    max_len = max(len(p) for p in vocab)

    def _viterbi(w: str) -> tuple[list[str], float]:
        n = len(w)
        # best[i] = (score, pieces tuple) over segmentations of w[:i]
        best: list[tuple[float, tuple[str, ...]] | None] = [None] * (n + 1)
        best[0] = (0.0, ())
        for i in range(1, n + 1):
            cand: tuple[float, tuple[str, ...]] | None = None
            for ln in range(1, min(max_len, i) + 1):
                prev = best[i - ln]
                if prev is None:
                    continue
                piece = w[i - ln : i]
                sc = vocab.get(piece)
                if sc is None:
                    continue
                c = (prev[0] + sc, prev[1] + (piece,))
                if cand is None or c[0] > cand[0] or (c[0] == cand[0] and c[1] < cand[1]):
                    cand = c
            prev = best[i - 1]
            if prev is not None:  # UNK fallback edge, one char
                c = (prev[0] + unk_score, prev[1] + (unk,))
                if cand is None or c[0] > cand[0] or (c[0] == cand[0] and c[1] < cand[1]):
                    cand = c
            best[i] = cand
        sc, toks = best[n]  # type: ignore[misc]
        return list(toks), sc

    def _tok(s):
        res = s.map(_viterbi)
        return pd.DataFrame(
            {"pieces": res.map(lambda t: t[0]), "score": res.map(lambda t: t[1])}
        )

    _tok.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    udf = F.pandas_udf(_tok, "struct<pieces: array<string>, score: double>")

    words = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "__w")
    )
    toked = words.select("__w").distinct().withColumn("__t", udf(F.col("__w")))
    if broadcast_words:
        toked = F.broadcast(toked)
    return words.join(toked, "__w").select(
        F.col(id_col),
        F.col("pos"),
        F.col("__w").alias("word"),
        F.col("__t.pieces").alias("pieces"),
        F.col("__t.score").alias("score"),
    )


def unigram_expected_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: dict[str, float],
    *,
    _freq: DataFrame | None = None,
) -> DataFrame:
    """EM E-step for Unigram-LM tokenizer training (forward-backward over the
    per-word segmentation lattice): with path probability proportional to the
    PRODUCT of its pieces' ``weights``, computes the expected number of
    occurrences of each piece per distinct word — the sufficient statistic the
    M-step renormalizes.  Words the vocabulary cannot segment (partition
    function Z = 0) are omitted.

    Returns (word, freq, piece, e_num, z, expected_count) where ``freq`` is
    the word's corpus occurrence count, ``e_num = sum over paths of
    path_weight * occurrences(piece)``, ``z = sum of path weights``, and
    ``expected_count = e_num / z``.  With small-integer weights both sums are
    integer-exact (the q336 oracle enumerates the same lattice), so the
    division is engine-deterministic.

    Scale design: the lattice DP is per-DISTINCT-word (Heaps'-bounded,
    Arrow-batched); corpus frequencies come from one word-keyed aggregation.
    A full EM iteration over a 100 TB corpus is therefore one distinct-word
    scan + one tiny broadcast join, repeated per round.
    """
    import pandas as pd

    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive")
    max_len = max(len(p) for p in weights)

    def _fb(w: str) -> tuple[list[str], list[float], float]:
        n = len(w)
        fwd = [0.0] * (n + 1)
        fwd[0] = 1.0
        for i in range(1, n + 1):
            for ln in range(1, min(max_len, i) + 1):
                wt = weights.get(w[i - ln : i])
                if wt is not None and fwd[i - ln]:
                    fwd[i] += fwd[i - ln] * wt
        z = fwd[n]
        if z == 0.0:
            return [], [], 0.0
        bwd = [0.0] * (n + 1)
        bwd[n] = 1.0
        for i in range(n - 1, -1, -1):
            for ln in range(1, min(max_len, n - i) + 1):
                wt = weights.get(w[i : i + ln])
                if wt is not None and bwd[i + ln]:
                    bwd[i] += wt * bwd[i + ln]
        acc: dict[str, float] = {}
        for i in range(n):
            for ln in range(1, min(max_len, n - i) + 1):
                p = w[i : i + ln]
                wt = weights.get(p)
                if wt is not None and fwd[i] and bwd[i + ln]:
                    acc[p] = acc.get(p, 0.0) + fwd[i] * wt * bwd[i + ln]
        pieces = sorted(acc)
        return pieces, [acc[p] for p in pieces], z

    def _udf(s):
        res = s.map(_fb)
        return pd.DataFrame(
            {
                "pieces": res.map(lambda t: t[0]),
                "nums": res.map(lambda t: t[1]),
                "z": res.map(lambda t: t[2]),
            }
        )

    _udf.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    # asNondeterministic: the UDF is pure, but without this flag Catalyst
    # pushes the z>0 filter below the word aggregation (the predicate only
    # references the grouping key) and re-evaluates the lattice DP on every
    # word OCCURRENCE — corpus-sized instead of distinct-word-sized.
    fb_udf = F.pandas_udf(
        _udf, "struct<pieces: array<string>, nums: array<double>, z: double>"
    ).asNondeterministic()

    freq = _freq if _freq is not None else (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    lat = freq.withColumn("__t", fb_udf(F.col("word"))).filter(
        F.col("__t.z") > 0
    )
    return lat.select(
        "word",
        "freq",
        F.explode(F.arrays_zip("__t.pieces", "__t.nums")).alias("__pz"),
        F.col("__t.z").alias("__z"),
    ).select(
        "word",
        "freq",
        F.col("__pz.pieces").alias("piece"),
        F.col("__pz.nums").cast("bigint").alias("e_num"),
        F.col("__z").cast("bigint").alias("z"),
        (F.col("__pz.nums") / F.col("__z")).alias("expected_count"),
    )


def unigram_m_step(expected: DataFrame) -> DataFrame:
    """EM M-step for Unigram-LM tokenizer training: renormalize the
    corpus-weighted expected piece counts from
    :func:`unigram_expected_counts` into the next round's piece
    probabilities — ``new_prob(p) = E[p] / sum_q E[q]`` with
    ``E[p] = sum_words freq(word) * expected_count(word, p)``.

    Float discipline: each word's ``expected_count`` is one exact
    division (e_num/z, both int64 under the small-integer weight regime),
    but the cross-word accumulation is a genuine float sum — so both the
    per-piece total and the grand total run as ORDERED folds (word-sorted
    / piece-sorted ``collect_list`` — the q317/q355 convention), keeping
    the exact-hash gate.  Per-piece list sizes are distinct-word bounded
    (Heaps); the piece axis is vocabulary-sized.

    Returns (piece, total_expected, new_prob) floor-at-6, one row per
    piece with nonzero expectation.  EM monotonicity (corpus likelihood
    non-decreasing under the renormalized probs) is pinned in
    tests/test_llm_ops.py::TestUnigramMStep against an independent pure-
    python EM replay."""
    contrib = expected.select(
        "piece",
        "word",
        (F.col("expected_count") * F.col("freq")).alias("c"),
    )
    per_piece = contrib.groupBy("piece").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word", F.col("c").alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("te")
    )
    # Grand total as a whole-frame window over per_piece (vocab-sized, one
    # partition) rather than per_piece.agg(...).crossJoin(per_piece): the
    # self-referencing crossJoin made Catalyst execute the ENTIRE E-step
    # subtree — corpus scan and lattice UDF included — twice.  The fold
    # expression is byte-identical (collect_list -> array_sort by (piece, v)
    # -> ordered + fold), so gt and every output float are unchanged.
    from pyspark.sql import Window

    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gt = F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("piece", F.col("te").alias("v"))).over(
                    w_all
                )
            ),
            lambda s: s["v"],
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return (
        per_piece.select(
            "piece",
            (F.floor(F.col("te") * 1e6) / 1e6).alias("total_expected"),
            (F.floor(F.col("te") / gt * 1e6) / 1e6).alias("new_prob"),
        )
        .orderBy("piece")
    )


def unigram_corpus_ll(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: dict[str, float],
    *,
    _freq: DataFrame | None = None,
) -> DataFrame:
    """Corpus log-likelihood of a Unigram-LM vocabulary with INTEGER
    weights, engine-deterministically: per distinct word a
    piece-count-marginalized lattice DP computes ``z_k`` = the exact
    integer sum of weight-products over segmentations with exactly k
    pieces; the normalized word likelihood is then
    ``z'_w = sum_k z_k / W^k`` with ``W = sum of all weights`` (k
    ascending — a bounded ordered fold), and
    ``LL = sum_w freq_w * ln(z'_w)`` as an ordered word fold.  Every
    float enters in a fixed order on both engines, so the floor-at-6
    result is exact-hash stable (the q317 log-sum convention).
    Unsegmentable words (z = 0) are excluded from the sum on both
    engines (documented: their likelihood is -inf; the EM loop treats
    vocabulary coverage separately).

    One row out: (ll, n_words, w_norm).  Scale: one corpus scan to
    (word, freq), lattice per DISTINCT word, word-axis fold."""
    import pandas as pd

    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 or float(w) != float(int(w)) for w in weights.values()):
        raise ValueError("weights must be positive integers")
    max_len = max(len(p) for p in weights)
    w_norm = float(sum(int(w) for w in weights.values()))

    def _zk(w: str) -> list[float]:
        n = len(w)
        # fwd[i][k]: integer sum of weight products reaching position i
        # with k pieces (exact in double below 2^53 — guarded)
        fwd = [[0.0] * (n + 1) for _ in range(n + 1)]
        fwd[0][0] = 1.0
        for i in range(1, n + 1):
            for ln in range(1, min(max_len, i) + 1):
                wt = weights.get(w[i - ln : i])
                if wt is None:
                    continue
                prev = fwd[i - ln]
                cur = fwd[i]
                for k in range(i):
                    if prev[k]:
                        cur[k + 1] += prev[k] * wt
                        if cur[k + 1] > 2**53:
                            raise ValueError(
                                "lattice sum exceeds exact-double range; "
                                "lower quant_scale"
                            )
        return fwd[n][1:]

    def _udf(s):
        return pd.Series(s.map(_zk))

    _udf.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # asNondeterministic: prevents the zp>0 filter from pushing below the
    # word aggregation and re-running the per-k lattice on every word
    # occurrence (see unigram_expected_counts).
    zk_udf = F.pandas_udf(_udf, "array<double>").asNondeterministic()

    freq = _freq if _freq is not None else (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    per_word = freq.withColumn("__zk", zk_udf(F.col("word"))).select(
        "word",
        "freq",
        F.aggregate(
            F.zip_with(
                F.col("__zk"),
                F.sequence(F.lit(1), F.size("__zk")),
                lambda z, k: z / F.pow(F.lit(w_norm), k.cast("double")),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("zp"),
    ).filter(F.col("zp") > 0)
    return per_word.agg(
        F.floor(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "word",
                                (F.col("freq") * F.log(F.col("zp"))).alias("v"),
                            )
                        )
                    ),
                    lambda s: s["v"],
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            * 1e6
        ).alias("__llx"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
    ).select(
        (F.col("__llx") / 1e6).alias("ll"),
        "n_words",
        F.lit(w_norm).alias("w_norm"),
    )


def unigram_em(
    df: DataFrame,
    id_col: str,
    text_col: str,
    init_weights: dict[str, float],
    iters: int,
    *,
    quant_scale: int = 32,
    tol: float | None = None,
) -> DataFrame:
    """Quantized Unigram-LM EM trained to ``iters`` rounds — the composed
    loop over :func:`unigram_expected_counts` (E) and
    :func:`unigram_m_step` (M) that q336/q392 pin one step of
    (VERDICT r6 #7).

    The loop discipline, in order of what matters at 100 TB:

    * **Integer-exact every round.** After each M-step the renormalized
      probabilities are QUANTIZED back to the integer grid
      ``wt = floor(new_prob * quant_scale + 0.5)`` (identical double ops
      on both engines; pieces hitting 0 drop out — the SentencePiece
      pruning analogue).  Quantization is what keeps round r+1's lattice
      in the exact-int regime — bit-identical cross-engine, immune to
      float-sum order — at the documented cost of probability resolution
      ``1/quant_scale``.  The E-step lattice guard raises if
      ``quant_scale`` is too large for the corpus word length (sums must
      stay under 2^53).
    * **Per-round lineage truncation** (the q346 power-iteration
      discipline): the M-step's vocabulary axis — bounded, Heaps-law —
      is collected each round and round r+1's plan starts from literals,
      so plan depth stays O(1) in ``iters`` instead of nesting ``iters``
      corpus scans.
    * **Likelihood ledger.** Each round records the corpus
      log-likelihood of its INPUT weights (:func:`unigram_corpus_ll`).
      For exact EM, LL(theta_{r+1}) >= LL(theta_r) is the EM theorem; the
      quantized ladder tracks it up to O(1/quant_scale) perturbation —
      the monotonicity certificate is asserted (with the quantization
      slack documented) in tests/test_llm_ops.py and holds on the
      catalog corpus.

    ``tol``: early-stop when max |new_prob - prev round's new_prob| <=
    tol (checked on the floored probs, engine-deterministic).

    Returns one row per (round, piece): (round, piece, total_expected,
    new_prob, wt_next, ll_in, n_rounds) where ``wt_next`` is the
    quantized weight fed to round round+1 (0 = pruned) and ``ll_in`` is
    the round's input-weight corpus LL.  Scale: each round is one
    corpus scan to (word, freq) + per-distinct-word lattices + vocab-axis
    algebra; rounds are strictly sequential (EM is inherently
    iterative)."""
    import math as _math

    if iters < 1:
        raise ValueError("iters must be >= 1")
    if quant_scale < 2:
        raise ValueError("quant_scale must be >= 2")
    spark = df.sparkSession
    weights = {p: float(int(w)) for p, w in init_weights.items()}
    if any(w <= 0 for w in weights.values()):
        raise ValueError("init_weights must be positive integers")
    out_rows: list[tuple] = []
    prev_probs: dict[str, float] = {}
    n_rounds = 0
    # The (word, freq) table depends only on the corpus, not the weights:
    # compute it once and share it across the LL job and the E/M job of
    # every round (2*iters corpus scans -> 1).  Persisted only for the
    # duration of this call; the returned frame is literal rows.
    freq = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .persist()
    )
    try:
        for r in range(1, iters + 1):
            n_rounds = r
            ll_in = unigram_corpus_ll(
                df, id_col, text_col, weights, _freq=freq
            ).collect()[0]["ll"]
            expected = unigram_expected_counts(
                df, id_col, text_col, weights, _freq=freq
            )
            m_rows = unigram_m_step(expected).collect()  # vocab-sized
            next_weights: dict[str, float] = {}
            probs: dict[str, float] = {}
            for row in m_rows:
                piece, te, np_ = (
                    row["piece"], row["total_expected"], row["new_prob"],
                )
                probs[piece] = np_
                wt = int(_math.floor(np_ * quant_scale + 0.5))
                if wt > 0:
                    next_weights[piece] = float(wt)
                out_rows.append((r, piece, te, np_, wt, ll_in))
            if not next_weights:
                raise ValueError(
                    "every piece quantized to zero; raise quant_scale"
                )
            converged = (
                tol is not None
                and prev_probs
                and all(
                    abs(probs.get(p, 0.0) - prev_probs.get(p, 0.0)) <= tol
                    for p in set(probs) | set(prev_probs)
                )
            )
            weights, prev_probs = next_weights, probs
            if converged:
                break
    finally:
        freq.unpersist()
    from ..sources.lakehouse_util import local_rows_df

    return local_rows_df(
        spark,
        [row + (n_rounds,) for row in out_rows],
        "round int, piece string, total_expected double, new_prob double,"
        " wt_next int, ll_in double, n_rounds int",
    ).orderBy("round", "piece")


def multi_pattern_scan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: list[str],
) -> DataFrame:
    """Aho-Corasick multi-pattern scan: counts OVERLAPPING occurrences of
    every pattern in each document in ONE left-to-right pass — O(len(text) +
    matches) per document regardless of pattern-set size, vs O(len * n_pat)
    for per-pattern search.  The blocklist/PII-term/contamination-marker scan
    a curation pipeline runs with 10k+ patterns, where per-pattern passes are
    the difference between 1 scan and 10,000 scans of 100 TB.

    The automaton (goto/fail/output links) is built once on the driver from
    the bounded pattern list and shipped in the UDF closure (broadcast);
    matching is an Arrow-batched Pandas UDF — a per-character state walk is
    non-decomposable into column algebra (same gating rationale as SimHash).
    Returns (id, pattern, n_matches) with n_matches > 0 only.
    """
    import pandas as pd

    pats = sorted(set(patterns))
    if not pats or any(not p for p in pats):
        raise ValueError("patterns must be non-empty strings")

    # build: trie with goto, then BFS fail links; output = pattern indexes
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for pi, p in enumerate(pats):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(pi)
    fail = [0] * len(goto)
    queue = list(goto[0].values())
    qi = 0
    while qi < len(queue):
        s = queue[qi]
        qi += 1
        for ch, t in goto[s].items():
            queue.append(t)
            f = fail[s]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[t] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != t else 0
            out[t] = out[t] + out[fail[t]]

    def _scan_one(text: str) -> tuple[list[str], list[int]]:
        counts = [0] * len(pats)
        s = 0
        for ch in text:
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            for pi in out[s]:
                counts[pi] += 1
        hits = [i for i, c in enumerate(counts) if c]
        return [pats[i] for i in hits], [counts[i] for i in hits]

    def _scan(s):
        res = s.map(_scan_one)
        return pd.DataFrame(
            {"pats": res.map(lambda t: t[0]), "counts": res.map(lambda t: t[1])}
        )

    _scan.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    udf = F.pandas_udf(_scan, "struct<pats: array<string>, counts: array<int>>")

    hit = df.select(F.col(id_col), udf(F.col(text_col)).alias("__h"))
    return hit.select(
        F.col(id_col), F.explode(F.arrays_zip("__h.pats", "__h.counts")).alias("__m")
    ).select(
        F.col(id_col),
        F.col("__m.pats").alias("pattern"),
        F.col("__m.counts").cast("bigint").alias("n_matches"),
    )


def multinomial_nb(
    train: DataFrame,
    test: DataFrame,
    *,
    id_col: str,
    label_col: str,
    text_col: str,
) -> DataFrame:
    """Multinomial Naive Bayes, trained and applied in one lazy plan:
    word-count likelihoods with Laplace smoothing, log-prior from class
    document frequencies, argmax over classes — the classic generative
    text classifier (language ID, topic routing, quality tiers), the
    third family next to the hashed-linear discriminative scorer
    (hashed_linear_score) and the bigram LM (bigram_logprob).

    Returns ``(id, label, pred, score)``: the test row's true label, the
    argmax class, and its log-score.

    Scale: training is two token aggregates (class totals + per-(class,
    word) counts, map-side partial) and a vocabulary count; the model is
    vocabulary×classes-sized, joined word-keyed onto the test tokens
    (broadcast for bounded vocabularies, plain shuffle join otherwise —
    AQE decides).  Scoring shuffles (doc, class) partial scores, never
    raw text.  Classes ride a small broadcast grid: cost is
    O(test tokens × classes).

    Determinism: per-(doc, class) log-score is an ORDERED fold over the
    doc's distinct words (count × log-likelihood terms, word-sorted), and
    the argmax is totally ordered by (score DESC, class ASC) — the
    cross-engine discipline of mmr_select/power_iteration.  ``ln`` is
    libm-identical to well under the score separation between classes
    (round-6 display, the q313/q317 convention).
    """
    tr_tok = train.select(
        F.col(label_col).alias("__l"),
        F.explode(_WORDS(F.col(text_col))).alias("__w"),
    )
    n_l = tr_tok.groupBy("__l").agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    c_wl = tr_tok.groupBy("__l", "__w").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    vocab = tr_tok.agg(F.countDistinct("__w").cast("bigint").alias("__V"))
    pri = train.groupBy(F.col(label_col).alias("__l")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nd")
    )
    tot = pri.agg(F.sum("__nd").cast("bigint").alias("__t"))
    te_tok = (
        test.select(
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("__true"),
            F.explode(_WORDS(F.col(text_col))).alias("__w"),
        )
        .groupBy("__id", "__true", "__w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
    )
    grid = te_tok.crossJoin(
        F.broadcast(n_l.select(F.col("__l").alias("__cl"), "__n"))
    )
    terms = (
        grid.join(
            c_wl.select(
                F.col("__l").alias("__cl"), F.col("__w"), F.col("__c")
            ),
            ["__cl", "__w"],
            "left",
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "__id",
            "__true",
            "__cl",
            "__w",
            (
                F.col("__cnt")
                * F.log(
                    (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(1))
                    / (F.col("__n") + F.col("__V"))
                )
            ).alias("__p"),
        )
    )
    folded = terms.groupBy("__id", "__true", "__cl").agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__w"), F.col("__p").alias("p")))
                ),
                lambda s: s["p"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("__ll")
    )
    scored = (
        folded.join(
            F.broadcast(pri.select(F.col("__l").alias("__cl"), "__nd")), "__cl"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "__id",
            "__true",
            "__cl",
            (
                F.log(F.col("__nd").cast("double") / F.col("__t")) + F.col("__ll")
            ).alias("__score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy(
        F.col("__score").desc(), F.col("__cl").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__id").alias("id"),
            F.col("__true").alias("label"),
            F.col("__cl").alias("pred"),
            F.col("__score").alias("score"),
        )
    )
