"""Corpus ranking / relevance operators: TF-IDF term weighting and BM25
document scoring — the retrieval-side counterparts of the dedup/quality
family (used in training pipelines for keyword-based subset selection,
retrieval-augmented filtering, and corpus search; extends the reference's
surface, which stops at frame verbs).

Cross-engine bit-determinism (the repo's oracle-gate discipline): both
operators use the *rational* Robertson idf ``(N - df + 0.5) / (df + 0.5)``
instead of its logarithm.  Every arithmetic step is an IEEE-754
exactly-rounded op (integer-valued +, *, /) evaluated in the same
association order on both engines, so scores are bit-equal in Spark and
DuckDB with no rounding in the query.  The log is monotone in the ratio, so
rankings are unchanged; production callers who want the classic scale can
``F.log`` the ratio at the end.

Scale shape (100 TB corpus):

* tokenize/explode is a narrow map; term counts are map-side partial
  aggregates, so the (doc, term) shuffle carries pre-combined counts.
* the document-frequency table is vocabulary-sized (≪ corpus);  its join
  back onto term counts is broadcast-able for bounded vocabularies and an
  ordinary term-keyed shuffle join otherwise — AQE decides at runtime.
* corpus-level scalars (N, avgdl) are 1-row aggregates crossJoin'd back
  (broadcast of one row), never driver round-trips.
* BM25 filters the exploded tokens to the query terms *before* any
  shuffle, so cost is O(matching tokens), not O(corpus tokens).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window, functions as F

from ..sources.lakehouse_util import local_rows_df

__all__ = [
    "tfidf_top_terms",
    "bm25_score",
    "posting_lists",
    "bigram_lift",
    "rrf_fuse",
    "association_rules",
    "bradley_terry",
]


def _idf_ratio(n_col, df_col):
    """Robertson idf without the log: (N - df + 0.5) / (df + 0.5)."""
    return (n_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, *, top_n: int = 3
) -> DataFrame:
    """Top-``top_n`` characteristic terms per document by tf-idf.

    Returns ``(id, term, tf, df, score)`` with ``score = tf * idf_ratio``;
    ties broken by term ascending so the cut is total-ordered.
    """
    if top_n <= 0:
        raise ValueError(f"top_n must be positive, got {top_n}")
    toks = _tokens(df, id_col, text_col)
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf is one row per (doc, term), so df = plain count per term.
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(n)
        .withColumn("score", F.col("tf") * _idf_ratio(F.col("__n"), F.col("df")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .select(id_col, "term", "tf", "df", "score")
    )


def bm25_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document for a bag-of-words query.

    Per term: ``idf_ratio * (tf * (k1+1)) / (tf + k1 * (1 - b + b * dl/avgdl))``.
    The per-term contributions are pivoted to columns and added in the fixed
    ``query_terms`` order (left-to-right), NOT via a group-sum — floating
    addition is order-sensitive, and a shuffle-ordered sum would not be
    reproducible across engines or retries.  Only documents matching at
    least one term are returned.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    dl = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("__dl")
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("__n"),
        (F.sum("__dl") / F.count(F.lit(1))).alias("__avgdl"),
    )
    toks = _tokens(df, id_col, text_col).filter(F.col("term").isin(query_terms))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Same association order as the SQL oracle: idf * (num / den).
    one_minus_b = 1.0 - b
    s = _idf_ratio(F.col("__n"), F.col("df")) * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(one_minus_b) + F.lit(b) * (F.col("__dl") / F.col("__avgdl")))
        )
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(corpus)
        .join(dl, on=id_col)
        .select(F.col(id_col), F.col("term"), s.alias("__s"))
    )
    pivoted = scored.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("__s"))).alias(f"__s_{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    total = F.coalesce(F.col("__s_0"), F.lit(0.0))
    for i in range(1, len(query_terms)):
        total = total + F.coalesce(F.col(f"__s_{i}"), F.lit(0.0))
    return pivoted.select(F.col(id_col), total.alias("score"))


def posting_lists(
    df: DataFrame, id_col: str, text_col: str, *, min_df: int = 1
) -> DataFrame:
    """Inverted index build: ``(term, df, postings)`` with postings the
    sorted list of containing document ids — the retrieval-side artifact
    BM25/tf-idf serve queries from.

    Scale: the (doc, term) distinct is a map-side-combined aggregate; the
    per-term collect is bounded by document frequency — for web-corpus
    stopwords whose posting lists would not fit one task, shard the list by
    adding a ``pmod(doc_id, n_shards)`` grouping key (same rows, n_shards
    rows per hot term) and concatenate on serve.  ``min_df`` prunes the
    hapax tail before the expensive collect.
    """
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    pairs = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term"))
        .groupBy("term", id_col)
        .agg(F.lit(1))
    )
    out = pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list(F.col(id_col))).alias("postings"),
    )
    return out.filter(F.col("df") >= min_df) if min_df > 1 else out


def bigram_lift(
    df: DataFrame, id_col: str, text_col: str, *, min_count: int = 2
) -> DataFrame:
    """Collocation mining: lift of adjacent word pairs,
    ``lift(x, y) = (n_xy * T) / (n_x. * n_.y)`` where ``n_xy`` counts the
    bigram, ``n_x.`` bigrams starting with x, ``n_.y`` bigrams ending with
    y, and T all bigrams.  Lift is PMI without the log — same ranking,
    and the integer-product / single-division form is bit-reproducible
    across engines (the repo's oracle discipline; callers wanting PMI
    proper can log it).

    Used in pipelines for tokenizer-vocabulary candidates and boilerplate
    phrase detection.  Scale: bigram generation is a narrow
    generate-and-explode (no shuffle); the three count tables are
    map-side-combined aggregates; the two margin joins key on single words
    (vocabulary-sized, broadcast-able).
    """
    words = F.split(F.col(text_col), " ")
    pairs_expr = F.expr(
        "CASE WHEN size(__w) >= 2 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "i -> struct(element_at(__w, i) AS w1, element_at(__w, i + 1) AS w2)) "
        "ELSE array() END"
    )
    bg = (
        df.select(words.alias("__w"))
        .select(F.explode(pairs_expr).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    n_xy = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    n_x = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n_x"))
    n_y = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n_y"))
    t = bg.agg(F.count(F.lit(1)).alias("__t"))
    return (
        n_xy.join(n_x, "w1")
        .join(n_y, "w2")
        .crossJoin(t)
        .filter(F.col("n_xy") >= min_count)
        .select(
            "w1",
            "w2",
            "n_xy",
            ((F.col("n_xy") * F.col("__t")) / (F.col("n_x") * F.col("n_y"))).alias(
                "lift"
            ),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    *,
    k: int = 60,
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR'09) — the standard
    hybrid-retrieval combiner: given N rankings of (mostly overlapping)
    candidate sets, score every candidate ``sum_i 1/(k + rank_i)``, skipping
    rankings the candidate is absent from.  Fusing a lexical ranking (BM25)
    with an embedding ranking is the shape every RAG retrieval stack runs.

    Each input frame must carry (``id_col``, ``rank_col``) with dense integer
    ranks.  The contributions are added LEFT-TO-RIGHT in the ``rankings``
    list order — each term is one exact division of small integers, so the
    fixed-order sum is bit-identical across engines (same stance as
    bm25_score's pivoted add).  Returns (id, rrf_score, n_lists) ordered by
    score desc with id tie-break.

    Scale: N-1 full outer joins on the id — each input is already a top-k
    list (bounded), so the joins are broadcast-size; with corpus-wide inputs
    they become id-keyed shuffles, still one per list.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    fused = None
    for i, r in enumerate(rankings):
        ri = r.select(F.col(id_col), F.col(rank_col).alias(f"__r{i}"))
        fused = ri if fused is None else fused.join(ri, id_col, "full_outer")
    score = F.lit(0.0)
    present = F.lit(0)
    for i in range(len(rankings)):
        term = F.when(
            F.col(f"__r{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"__r{i}").cast("double")),
        ).otherwise(F.lit(0.0))
        score = score + term
        present = present + F.when(F.col(f"__r{i}").isNotNull(), 1).otherwise(0)
    return fused.select(
        F.col(id_col),
        F.round(score, 6).alias("rrf_score"),
        present.alias("n_lists"),
    ).orderBy(F.col("rrf_score").desc(), F.col(id_col))


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support_frac: float = 0.05,
    min_confidence: float = 0.0,
) -> DataFrame:
    """Market-basket association rules over (basket, item) rows: for every
    ordered pair of FREQUENT items ``A -> B`` co-occurring in at least one
    basket, emit ``support_n`` (baskets with both), ``confidence``
    (= support / baskets-with-A) and ``lift`` (= confidence / P(B)) —
    the a-priori first level, which is where distributed basket analysis
    earns its keep (deeper itemsets recurse on the same prune).

    Scale (the a-priori prune IS the scale story): item supports are one
    map-side-partial aggregate; only items with support >= ``min_support_
    frac`` * N survive into pair enumeration, so the per-basket pair
    blowup is (frequent-items-per-basket)², not (items-per-basket)² —
    on heavy-tailed item distributions that is the difference between a
    bounded explode and a combinatorial one.  The frequent-item set is
    vocabulary-sized and broadcast into the basket scan; pair counts
    combine map-side (cooccurrence_edges shape); supports join back
    broadcast-ably.  N rides along as a 1-row broadcast, never a driver
    round-trip.

    Determinism: support counts are integers; confidence and lift are
    single IEEE divisions of integer-valued doubles (one exactly-rounded
    op each, identical on any engine — no float aggregation anywhere).
    """
    from .graph import cooccurrence_edges

    b = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    n = b.select(F.countDistinct("__b").alias("__n"))
    supp = b.groupBy("__i").agg(F.count(F.lit(1)).cast("bigint").alias("__supp"))
    freq = (
        supp.crossJoin(F.broadcast(n))
        .filter(F.col("__supp") >= F.col("__n") * F.lit(min_support_frac))
        .select("__i", "__supp", "__n")
    )
    kept = b.join(F.broadcast(freq.select("__i")), "__i")
    pairs = cooccurrence_edges(kept, "__b", "__i")
    both = pairs.unionByName(
        pairs.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "support"
        )
    )
    sa = freq.select(
        F.col("__i").alias("u"), F.col("__supp").alias("__sa"), "__n"
    )
    sb = freq.select(F.col("__i").alias("v"), F.col("__supp").alias("__sb"))
    out = (
        both.join(F.broadcast(sa), "u")
        .join(F.broadcast(sb), "v")
        .select(
            F.col("u").alias("antecedent"),
            F.col("v").alias("consequent"),
            F.col("support").alias("support_n"),
            (F.col("support").cast("double") / F.col("__sa")).alias("confidence"),
            (
                (F.col("support") * F.col("__n")).cast("double")
                / (F.col("__sa") * F.col("__sb"))
            ).alias("lift"),
        )
    )
    if min_confidence > 0.0:
        out = out.filter(F.col("confidence") >= F.lit(min_confidence))
    return out


#: Fail-loud budget on the item axis bradley_terry collects per round
#: (VERDICT r7 #5 — the dbscan max_candidate_pairs discipline applied to
#: driver-side collects): the axis is models/policies being ranked, so
#: 1e6 is generous; a corpus-sized axis means the caller pointed the
#: operator at document ids and must hear about it before the driver OOMs.
BT_MAX_ITEMS_ENV = "SPARK_GRAFT_BT_MAX_ITEMS"
BT_DEFAULT_MAX_ITEMS = 1_000_000


def bradley_terry(
    pairs: DataFrame,
    winner_col: str,
    loser_col: str,
    *,
    iters: int = 2,
    quant_scale: int = 1 << 20,
) -> DataFrame:
    """Bradley-Terry preference aggregation by Hunter's MM algorithm —
    the RLHF/eval-pipeline step that turns pairwise human (or judge)
    preferences into per-item strengths, with the quantized fixed-round
    discipline of the Unigram-EM loop (q396) so a SQL oracle replays
    every round bit-for-bit.

    Model: P(i beats j) = pi_i / (pi_i + pi_j).  MM update (Hunter 2004,
    "MM algorithms for generalized Bradley-Terry models" — monotone in
    the likelihood):

        pi_i' = W_i / sum_{j ~ i} n_ij / (pi_i + pi_j)

    then normalized to sum 1 and QUANTIZED to an integer grid
    (``floor(p * quant_scale + 0.5)``, min 1), which is what pins the
    cross-engine float path: within a round every float is a ratio of
    int64s folded in a DEFINED order (per-item denominator folds over
    opponent id; the normalizer and the likelihood ledger fold over item
    / pair id) — no reassociation anywhere.

    Returns one row per (round, item): ``strength_q`` (the quantized
    strength AFTER the round), ``ll_in`` (corpus log-likelihood of the
    ENTERING strengths — the monotonicity ledger: non-decreasing across
    rounds up to the documented quantization slack) and ``n_rounds``.

    Contract: every item must win at least once (W_i = 0 drives pi_i to
    0 where the model degenerates) — raises ValueError otherwise, listing
    offenders.  NULL winners/losers also raise (ADVICE r7: they would
    otherwise vanish silently through the i != j filter, letting an item
    that appears only in NULL-partner rows bypass the zero-wins check).
    Scale: the comparison stream reduces FIRST to the (i, j, n, w)
    distinct-pair table and the item axis (both Heaps-bounded: items are
    models/policies being ranked, not the corpus).  Each round is ONE
    action with one shuffle: the pair table joins the broadcast item axis,
    and one item-keyed grouping computes both the per-item denominator
    folds and the likelihood ledger (carried under the NULL item).  The
    per-round ``collect()`` is item-axis-sized — the kmeans-centroid
    discipline — and FAIL-LOUD BUDGETED (VERDICT r7 #5, the dbscan
    ``max_candidate_pairs`` discipline): before round 1 the item axis is
    collected with a limit of ``SPARK_GRAFT_BT_MAX_ITEMS`` (default 1e6)
    plus one, and one row over the budget raises instead of OOMing the
    driver silently-late — a user pointing ``winner_col`` at document ids
    gets a contract violation, not a hang.  Plan depth is O(1) in
    ``iters`` (per-round lineage truncation).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    S = int(quant_scale)
    nulls = pairs.agg(
        F.sum(F.col(winner_col).isNull().cast("bigint")).alias("nw"),
        F.sum(F.col(loser_col).isNull().cast("bigint")).alias("nl"),
    ).collect()[0]
    if (nulls["nw"] or 0) > 0 or (nulls["nl"] or 0) > 0:
        raise ValueError(
            f"bradley_terry: NULL items in the pair stream "
            f"({nulls['nw']} NULL {winner_col}, {nulls['nl']} NULL "
            f"{loser_col}) — a comparison with an unknown side carries no "
            f"preference information; filter them explicitly upstream"
        )
    item_type = dict(pairs.dtypes)[winner_col]  # items may be ids OR names
    canon = pairs.select(
        F.least(F.col(winner_col), F.col(loser_col)).alias("i"),
        F.greatest(F.col(winner_col), F.col(loser_col)).alias("j"),
        (F.col(winner_col) == F.least(F.col(winner_col), F.col(loser_col)))
        .cast("long")
        .alias("__iwin"),
    ).filter(F.col("i") != F.col("j"))
    from .cache import persist_tracked

    pair_tab = persist_tracked(
        canon.groupBy("i", "j").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__iwin").cast("bigint").alias("w"),
        )
    )
    spark = pairs.sparkSession
    wins_df = (
        pair_tab.select(F.col("i").alias("item"), F.col("w").alias("wn"))
        .unionByName(
            pair_tab.select(
                F.col("j").alias("item"), (F.col("n") - F.col("w")).alias("wn")
            )
        )
        .groupBy("item")
        .agg(F.sum("wn").cast("bigint").alias("W"))
    )
    axis_budget = int(os.environ.get(BT_MAX_ITEMS_ENV, BT_DEFAULT_MAX_ITEMS))
    wins_rows = wins_df.limit(axis_budget + 1).collect()
    if len(wins_rows) > axis_budget:
        raise ValueError(
            f"bradley_terry: item axis has over {axis_budget} distinct "
            f"items, the driver-collect budget ({BT_MAX_ITEMS_ENV}) — the "
            f"per-round collect is sized by the "
            f"entities being RANKED (models/policies), not the corpus; "
            f"a corpus-sized axis would OOM the driver"
        )
    items = sorted(r["item"] for r in wins_rows)
    wins = {r["item"]: r["W"] for r in wins_rows}
    zero = [it for it in items if wins[it] == 0]
    if zero:
        raise ValueError(
            f"bradley_terry: items with zero wins degenerate the model: "
            f"{zero[:10]} — drop them or add pseudo-comparisons"
        )

    def fold(col, field):
        """Left-to-right sum of ``field`` over the group's non-NULL
        ``col`` structs, in sorted struct order."""
        return F.aggregate(
            F.transform(F.array_sort(F.collect_list(col)), lambda s: s[field]),
            F.lit(0.0),
            lambda x, y: x + y,
        )

    qsum = (F.col("qi") + F.col("qj")).cast("double")
    t = F.col("n").cast("double") * F.lit(float(S)) / qsum
    v = F.col("w") * F.log(F.col("qi").cast("double") / qsum) + (
        F.col("n") - F.col("w")
    ) * F.log(F.col("qj").cast("double") / qsum)
    no_d = F.lit(None).cast(f"struct<opp:{item_type},t:double>")
    no_l = F.lit(None).cast("struct<k:string,v:double>")

    def rec(item, d, l):
        return F.struct(item.alias("item"), d.alias("d"), l.alias("l"))

    # Per pair: a denominator term ``d`` for each side, keyed by that
    # side, plus one likelihood-ledger term ``l`` under the NULL item
    # (NULL items were rejected above, so that key cannot clash).
    recs = F.explode(F.array(
        rec(F.col("i"), F.struct(F.col("j").alias("opp"), t.alias("t")), no_l),
        rec(F.col("j"), F.struct(F.col("i").alias("opp"), t.alias("t")), no_l),
        rec(
            F.lit(None).cast(item_type), no_d,
            F.struct(F.concat_ws("#", "i", "j").alias("k"), v.alias("v")),
        ),
    ))

    cur = {it: S for it in items}  # uniform start on the grid
    out_rows = []
    for rnd in range(1, iters + 1):
        # one-slice local frame: plain createDataFrame parallelizes the
        # item axis into defaultParallelism mostly-empty pickled slices,
        # each a Python-worker round-trip per evaluating job (guide §4);
        # rebuilding it from driver rows each round truncates the lineage
        pi = F.broadcast(local_rows_df(
            spark,
            [(it, int(q)) for it, q in sorted(cur.items())],
            f"item {item_type}, q bigint",
        ))
        both = (
            pair_tab.join(pi.select(F.col("item").alias("i"), F.col("q").alias("qi")), "i")
            .join(pi.select(F.col("item").alias("j"), F.col("q").alias("qj")), "j")
        )
        # ONE action per round: the per-item denominators (ordered fold
        # over opponent id) and the monotonicity ledger on the ENTERING
        # grid strengths (ordered fold over pair key) share one shuffle
        folds = {
            r["item"]: r
            for r in both.select(recs.alias("r")).select("r.*")
            .groupBy("item")
            .agg(fold("d", "t").alias("D"), fold("l", "v").alias("ll"))
            .collect()
        }
        ll_in = folds[None]["ll"]
        raw = {it: wins[it] / folds[it]["D"] for it in items}
        norm = 0.0
        for it in items:  # ordered fold over item id (driver-side, defined order)
            norm += raw[it]
        cur = {
            it: max(1, int((raw[it] / norm) * S + 0.5)) for it in items
        }
        for it in items:
            out_rows.append((rnd, it, cur[it], float(ll_in), iters))
    return local_rows_df(
        spark,
        out_rows,
        f"round int, item {item_type}, strength_q bigint, ll_in double, "
        "n_rounds int",
    ).orderBy("round", "item")
