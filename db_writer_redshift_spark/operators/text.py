"""Document-level text analysis operators: quality scoring, token counting,
language identification, fingerprinting. All single-pass column-expression
projections (no shuffle, no UDF) — at 100 TB these are embarrassingly
parallel map stages bounded by scan throughput.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db_writer_redshift_spark.functions.text import (
    STOPWORDS,
    avg_word_len_expr,
    ngrams,
    punct_ratio_expr,
    stopword_ratio_expr,
    token_count_expr,
    words,
)

# Marker-word profiles for the heuristic language scorer. Deterministic and
# SQL-portable (the oracle mirrors the same CASE logic).
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "simple": ("fast", "slow", "small", "big"),
    "tech": ("spark", "query", "hash", "vector", "batch"),
}


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features: char/word/token counts, mean word
    length, punctuation ratio, stopword ratio, and a composite [0,1] score.
    """
    t = F.col(text_col)
    n_words = F.size(words(t))
    qual = (
        F.lit(1.0)
        - F.least(F.lit(1.0), F.abs(avg_word_len_expr(t) - 5) / 5) * 0.3
        - F.least(F.lit(1.0), punct_ratio_expr(t) * 10) * 0.3
        - F.least(F.lit(1.0), F.abs(stopword_ratio_expr(t) - 0.4)) * 0.4
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.length(t).alias("n_chars_actual"),
        n_words.alias("n_words"),
        token_count_expr(t).alias("n_tokens"),
        avg_word_len_expr(t).alias("avg_word_len"),
        punct_ratio_expr(t).alias("punct_ratio"),
        stopword_ratio_expr(t).alias("stopword_ratio"),
        F.round(qual, 6).alias("quality_score"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: count marker-word hits per profile, argmax
    with deterministic tiebreak (profile declaration order)."""
    w = words(F.lower(F.col(text_col)))
    scores = {
        lang: F.size(F.filter(w, lambda x: x.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit(langs[0])
    # reversed CASE chain → earlier profile wins ties
    for lang in reversed(langs):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    cols = [F.col(id_col).alias("doc_id")]
    cols += [scores[lang].alias(f"score_{lang}") for lang in langs]
    cols.append(pred.alias("pred_lang"))
    return df.select(*cols)


def repetition_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    flag_2gram: float = 0.10,
    flag_3gram: float = 0.05,
) -> DataFrame:
    """Gopher-style within-document repetition scoring: for n ∈ {1,2,3},
    the fraction of n-gram occurrences that repeat an earlier occurrence
    (1 - distinct/total), plus a repetitive flag at the given 2/3-gram
    thresholds (cf. Rae et al. 2021 §A1.1's duplicate-n-gram filters).

    Pure column expressions over in-row arrays — a narrow map stage, no
    shuffle, CPU-bound on the per-row n-gram arrays at 100 TB. The
    fraction is one double divide rounded to 6 places so the oracle can
    reproduce it bit-for-bit.

    Two projections, not one: the (total, distinct) counts materialize in
    an inner select so each n-gram array is BUILT ONCE per row. Inlining
    the counts into the frac/flag expressions re-evaluated the array
    construction per reference (the flag reuses frac₂/frac₃) — measured
    3.1× slower at sf0.1 (38 s → 12 s on one core's worth of docs)."""
    t = F.col(text_col)
    mid = [F.col(id_col).alias("doc_id")]
    for n in (1, 2, 3):
        g = ngrams(t, n)
        mid.append(F.size(g).alias(f"__t{n}"))
        mid.append(F.size(F.array_distinct(g)).alias(f"__d{n}"))
    counted = df.select(*mid)
    cols = [F.col("doc_id")]
    fracs = {}
    for n in (1, 2, 3):
        total = F.col(f"__t{n}")
        frac = F.when(
            total > 0,
            F.round((total - F.col(f"__d{n}")) / total, 6),
        ).otherwise(F.lit(0.0))
        fracs[n] = frac
        cols.append(frac.alias(f"dup_{n}gram_frac"))
    cols.append(
        ((fracs[2] > flag_2gram) | (fracs[3] > flag_3gram)).alias("is_repetitive")
    )
    return counted.select(*cols)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seq_len: int = 256,
    n_bins: int = 32,
) -> DataFrame:
    """Training-sequence packing: assign documents to fixed-token-budget
    packs (the pretraining batch-prep step). Documents are sharded into
    ``n_bins`` deterministic bins (id mod), ordered by id within the bin,
    and packed by exclusive cumulative token count: pack_id =
    (cumsum - n_tokens) div seq_len — contiguous best-effort fill where a
    straddling doc joins the pack its start offset falls in.

    Scale: ONE shuffle (hash on bin) + one in-partition window pass; bins
    are the unit of parallelism exactly like shard-local packing in a
    real pipeline, and the assignment is reproducible across cluster
    sizes because it depends only on (bin, id order). All integer
    arithmetic — no float accumulation to drift cross-engine.

    Returns one row per (bin, pack_id): n_docs, total_tokens, fill_ratio.
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % n_bins).alias("bin"),
        token_count_expr(F.col(text_col)).alias("n_tokens"),
    )
    w = Window.partitionBy("bin").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn("pack_id", F.expr(f"(cum_tokens - n_tokens) div {seq_len}"))
        .groupBy("bin", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("n_tokens") / F.lit(float(seq_len)), 4).alias("fill_ratio"),
        )
    )


def chunk_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token-window chunking: split each document into
    fixed-size windows of ``chunk_tokens`` whitespace tokens advancing by
    ``stride`` (overlap = chunk_tokens - stride) — the retrieval-indexing /
    long-document training-prep primitive. The last window starts at the
    first stride multiple that still reaches the end of the document, so
    every token is covered and no window is a strict suffix of its
    predecessor; documents at or under one window emit exactly one chunk.

    Scale: the window list is materialized per-row inside codegen
    (transform over an index sequence, then one explode) — no self-join,
    no shuffle at all; output fan-out is ~n_tokens/stride per doc. All
    index arithmetic is positive-integer div, identical in Spark and
    DuckDB, and the chunk fingerprint is md5 (engine-portable).

    Returns one row per (doc_id, chunk_id): n_chunk_tokens, chunk_md5.
    """
    c, s = int(chunk_tokens), int(stride)
    if c < 1 or s < 1 or s > c:
        raise ValueError("need 1 <= stride <= chunk_tokens")
    t = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("w"),
    ).filter(F.size("w") >= 1)
    chunks = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CASE WHEN size(w) <= {c} THEN 0"
                f" ELSE (size(w) - {c} + {s} - 1) div {s} END),"
                f" i -> named_struct('chunk_id', CAST(i AS BIGINT),"
                f" 'chunk', slice(w, i * {s} + 1, {c})))"
            )
        ).alias("c"),
    )
    return chunks.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size("c.chunk").cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join("c.chunk", " ")).alias("chunk_md5"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprints: md5 (exact, engine-portable) + a 64-bit xxhash64
    (engine-internal, used by dedup/simhash paths)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(t).alias("md5_fp"),
        F.xxhash64(t).alias("xx64_fp"),
        F.substring(F.md5(t), 1, 8).alias("md5_prefix"),
    )


def _sql_str(s: str) -> str:
    """Single-quoted Spark SQL string literal, backslash-escaped — safe
    for arbitrary corpus symbols (apostrophes, periods, backslashes), so
    a punctuation-bearing pair winning a merge round binds cleanly
    instead of crashing training mid-loop. '$' is written as the escape
    ``\\u0024``: Spark substitutes ``${...}`` in SQL text before parsing,
    even inside string literals, so a symbol like '${0}' would otherwise
    reach the plan rewritten."""
    return (
        "'"
        + s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
        + "'"
    )


def _bpe_merge_expr(sym_col: str, left: str, right: str) -> str:
    """SQL expression merging adjacent symbol pair (left, right) inside a
    '|'-joined symbol string — a greedy left-to-right fold identical to
    DuckDB's ``list_reduce`` twin (which seeds with the FIRST element;
    the empty-seed CASE here reproduces that, per the verify-recipe
    fold-seed rule). Symbols never contain the '|' separator: words
    carrying it are excluded from the vocabulary at build time
    (bpe_train_merges), and merges only concatenate existing symbols."""
    l, r = _sql_str(left), _sql_str(right)
    lr = _sql_str(left + right)
    return f"""
aggregate(split({sym_col}, '[|]'), '', (acc, x) ->
  CASE WHEN acc = '' THEN x
       WHEN (acc = {l} OR endswith(acc, '|' || {l})) AND x = {r}
       THEN CASE WHEN acc = {l} THEN {lr}
                 ELSE substr(acc, 1, length(acc) - length({l}) - 1) || '|' || {lr} END
       ELSE acc || '|' || x END)
"""


def bpe_train_merges(
    df: DataFrame, text_col: str, rounds: int = 3, return_state: bool = False
):
    """Iterative BPE tokenizer training over the frequency-weighted word
    vocabulary: per round, count every adjacent symbol pair (weighted by
    word frequency), merge the most frequent pair into one symbol across
    the whole vocabulary (greedy left-to-right, the Sennrich rule), and
    repeat on the merged symbols. Returns the merge table — one row per
    round: (merge_round, left_sym, right_sym, n_occurrences) — the
    training TRAJECTORY, so a value-hash oracle covers every selection
    and every rewrite, not just round one (the kmeans_fit_portable /
    pagerank_int discipline applied to tokenizer training).

    Determinism: pair selection breaks count ties on (left, right)
    lexicographically; the merge fold is exact string arithmetic with a
    bit-identical DuckDB ``list_reduce`` twin (fold-seed rule handled).

    Scale: the state is the WORD VOCABULARY (saturates in the low
    millions on any corpus — Heaps' law), not the corpus: one explode +
    map-side-combined count builds it, then every round is a pair
    aggregate over |vocab| rows plus a map-only fold rewrite. Driver
    state is ONE (pair, count) row per round. Lineage is truncated per
    round with localCheckpoint (the BSP-loop rule from
    operators/dedup.connected_components)."""
    w = words(F.lower(F.col(text_col)))
    # '|' is the symbol-string separator — a word containing it would
    # make the fold's split ambiguous on both engines, so such words sit
    # out of the vocabulary (they tokenize as 1 token downstream, same
    # as sub-floor-length words).
    vocab = (
        df.select(F.explode(w).alias("w"))
        .filter((F.length("w") >= 2) & ~F.col("w").contains("|"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    state = vocab.select(
        "w", F.expr("array_join(split(w, ''), '|')").alias("s"), "freq"
    )
    spark = df.sparkSession
    merges = []
    for r in range(1, rounds + 1):
        # Guard single-symbol words: Spark's sequence(1, 0) is the
        # DESCENDING [1, 0] (DuckDB's generate_series(1, 0) is empty),
        # so an unguarded transform would element_at out of bounds the
        # moment a whole word collapses into one merged symbol.
        pairs = state.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(split(s, '[|]')) > 1 THEN"
                    " transform(sequence(1, size(split(s, '[|]')) - 1),"
                    " i -> struct(element_at(split(s, '[|]'), i) AS l,"
                    " element_at(split(s, '[|]'), i + 1) AS r))"
                    " ELSE CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>) END"
                )
            ).alias("p"),
            "freq",
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "freq")
        counts = pairs.groupBy("l", "r").agg(F.sum("freq").cast("long").alias("n"))
        top = counts.orderBy(F.col("n").desc(), "l", "r").limit(1).collect()
        if not top:
            break
        t = top[0]
        merges.append((r, t.l, t.r, t.n))
        state = state.select(
            "w", F.expr(_bpe_merge_expr("s", t.l, t.r)).alias("s"), "freq"
        ).localCheckpoint(eager=False)
    merge_df = spark.createDataFrame(
        merges,
        "merge_round long, left_sym string, right_sym string, n_occurrences long",
    )
    if return_state:
        # (w, s, freq) after all merges — the trained tokenizer's word →
        # symbol-string table, broadcastable for corpus tokenization.
        return merge_df, state
    return merge_df


def quality_score_e6(text_col: Column) -> Column:
    """Composite quality score as an integer (score × 1e6, BIGINT).

    Each input ratio is rounded to 6 decimals BEFORE combining, then the
    composite is scaled to an integer — the cross-engine-deterministic
    formulation (single IEEE ops per row over identical rounded inputs;
    see dedup_keep_best_quality, which proved this class against the
    DuckDB oracle after the unrounded-intermediates form flapped)."""
    a6 = F.round(avg_word_len_expr(text_col), 6)
    p6 = F.round(punct_ratio_expr(text_col), 6)
    s6 = F.round(stopword_ratio_expr(text_col), 6)
    q = (
        F.lit(1.0)
        - F.least(F.lit(1.0), F.abs(a6 - 5) / 5) * 0.3
        - F.least(F.lit(1.0), p6 * 10) * 0.3
        - F.least(F.lit(1.0), F.abs(s6 - 0.4)) * 0.4
    )
    return F.round(q * 1000000).cast("long")


def quality_percentile_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    keep_num: int = 1,
    keep_den: int = 2,
) -> DataFrame:
    """Per-group calibrated quality gate: keep the best keep_num/keep_den
    fraction of documents WITHIN each group (source/domain), instead of
    one global threshold — the DataComp/Dolma-style calibration that
    stops a uniformly-verbose source from crowding out a terse one.

    Membership is pure integer arithmetic: rank documents inside the
    group by (quality_score_e6 DESC, id) and keep row ``rn`` iff
    ``rn * keep_den <= n_group * keep_num`` — no float percentile, no
    boundary flap. Returns the per-group audit relation
    (group, n_docs, n_kept, kept_tokens, cutoff_q_e6) where cutoff_q_e6
    is the worst kept score.

    Scale: one window partitioned by group (groups are domains —
    millions of modest partitions at 100 TB; a single mega-domain would
    instead take a quickselect threshold from operators/selection.py)
    followed by a map-side-combined rollup on the same key, so the sort
    and the aggregate share one shuffle."""
    from pyspark.sql.window import Window

    t = F.col(text_col)
    scored = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc_id"),
        token_count_expr(t).alias("n_tokens"),
        quality_score_e6(t).alias("q_e6"),
    )
    w = Window.partitionBy("grp").orderBy(F.col("q_e6").desc(), "doc_id")
    ranked = scored.select(
        "grp",
        "n_tokens",
        "q_e6",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n_group"),
    )
    kept = F.col("rn") * keep_den <= F.col("n_group") * keep_num
    return ranked.groupBy(F.col("grp").alias(group_col)).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).cast("long").alias("kept_tokens"),
        F.min(F.when(kept, F.col("q_e6"))).alias("cutoff_q_e6"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken
    2003 — the MOSS scheme): hash every word k-gram, slide a window of
    w consecutive hashes, and keep each window's minimum (rightmost on
    ties). Guarantee: any shared run of at least w + k - 1 words
    between two documents shares at least one selected fingerprint,
    with expected density 2/(w+1) — the property plain mod-p sampling
    lacks.

    The rightmost-min rule packs into one integer so a single window
    MIN implements it: v = h·2^20 + (2^20 − 1 − pos); minimizing v
    minimizes h and, on ties, maximizes pos. Positions are capped at
    2^20 grams per document (1M words — far above any sane document;
    chunk first otherwise). Only full windows select (docs shorter
    than w+k-1 words yield no fingerprints).

    Returns distinct (id_col, pos, fp): selected 0-based gram start
    positions and their 32-bit md5-portable hashes.

    Scale: the k-gram hash is row-local codegen; the sliding MIN is a
    per-document window over gram positions (document-sized
    partitions, never corpus-sized); the distinct collapses each
    document's selections locally before any cross-doc use.
    """
    from pyspark.sql.window import Window

    from db_writer_redshift_spark.functions.text import ngrams
    from db_writer_redshift_spark.operators.bloom import _md5_int32

    cap = 1 << 20
    g = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(ngrams(F.lower(F.col(text_col)), k)).alias("pos", "g"),
    )
    v = g.select(
        "__id",
        "pos",
        (_md5_int32(F.col("g")) * cap + (F.lit(cap - 1) - F.col("pos"))).alias(
            "v"
        ),
    )
    n_grams = v.groupBy("__id").agg(F.count("*").alias("__ng"))
    win = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        v.withColumn("vm", F.min("v").over(win))
        .join(n_grams, "__id")
        .filter(F.col("pos") <= F.col("__ng") - w)
        .select("__id", "vm")
        .distinct()
    )
    return sel.select(
        F.col("__id").alias(id_col),
        (F.lit(cap - 1) - F.col("vm") % cap).cast("long").alias("pos"),
        F.expr(f"vm div {cap}").cast("long").alias("fp"),
    )
