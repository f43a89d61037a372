"""Text-analysis operators for LLM training-data pipelines (`[ext]`,
SURVEY.md §2.11 / north-star mandate).

All hot paths are Catalyst built-ins (split/md5/array functions) — no
Python in the per-row path, so these run whole-stage-codegen'd over
100 TB of documents. The exception is a higher-order array lambda
(``transform``/``filter``/``aggregate``/``array_sort`` with a
comparator): in Spark 4.1 those expressions are ``CodegenFallback``
and evaluate interpreted inside the generated stage, so hot paths read
arrays by index instead (:func:`token_windows`). Most operators return
expression columns so they compose into any pipeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tiny per-language function-word lists for the n-gram/stopword
#: language-ID heuristic. Deliberately small and public-knowledge.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "as"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "im", "für"),
    "fr": ("le", "la", "les", "de", "des", "et", "en", "du", "une", "est"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "个"),
}

STOPWORDS_EN = LANG_MARKERS["en"] + ("a", "an", "it", "on", "be", "are", "was")


def tokens(text: Column) -> Column:
    """Whitespace tokenizer (the fixtures are space-separated; a
    BPE-ish regex split is `tokens_regex`)."""
    return F.split(text, r"\s+")


def token_windows(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text: str | Column = "text",
    step: int = 1,
) -> DataFrame:
    """``(id_col, pos, n, tok, window)`` rows, one per ``step``-th token
    position of each row's :func:`tokens` array: ``n`` is the row's
    token count, ``tok`` the token at ``pos`` and ``window`` the ``k``
    tokens from ``pos`` joined by one space. Near the end of a row the
    window is shorter: ``concat_ws`` skips the out-of-range reads, which
    are null. Callers keep the positions they need, e.g.
    ``pos + k <= n`` for full windows. Null text yields no rows; empty
    text is one empty token.

    Each row is tokenized once, into an array that only the generator
    and the projection right above it read. Window token ``j`` is the
    array read at ``pos + j``. There is no shuffle, no sort and no
    window function, so the work is linear in the row's length, and
    each output row carries only its window, never the array or the
    text. The generator is ``explode(sequence(0, n - 1, step))``, not
    ``posexplode`` of the array: Catalyst infers a ``size(arr) > 0 AND
    isnotnull(arr)`` filter for a generator whose input is a bare
    attribute and pushes it below the projection, which would run the
    tokenizer twice more per row.

    The windows of two rows that share an id stay separate: any
    per-id set (``groupBy(id).collect_set``) is the union of the rows'
    windows.
    """
    arr = F.col("__arr")
    pos = F.col("pos")
    text_col = F.col(text) if isinstance(text, str) else text
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__arr"))
        .select(
            F.col(id_col),
            arr,
            F.explode(F.sequence(F.lit(0), F.array_size(arr) - 1, F.lit(step))).alias("pos"),
        )
        .select(
            F.col(id_col),
            pos,
            F.array_size(arr).alias("n"),
            F.get(arr, pos).alias("tok"),
            F.concat_ws(" ", *[F.get(arr, pos + j) for j in range(k)]).alias("window"),
        )
    )


def tokens_regex(text: Column) -> Column:
    """BPE-ish tokenizer: words, numbers, or single non-space symbols —
    the usual pre-tokenization regex shape."""
    return F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def mean_token_len(text: Column) -> Column:
    """Average token length (chars minus separators over token count)."""
    n = token_count(text)
    return (F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / n).cast("double")


def distinct_ratio(text: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens."""
    t = tokens(text)
    return (F.size(F.array_distinct(t)).cast("double") / F.size(t)).cast("double")


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    t = tokens(F.lower(text))
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return (hits.cast("double") / F.size(t)).cast("double")


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (the n-gram heuristic's scoring
    pass) — one codegen'd expression per language."""
    t = tokens(F.lower(text))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(t, lambda x: F.array_contains(arr, x)))
    return out


def lang_id(text: Column) -> Column:
    """Argmax language by marker hits, fixed tie order (en>es>de>fr>zh),
    'und' when nothing matches."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build the argmax as a first-match CASE in fixed priority order
    result = F.when(best <= 0, F.lit("und"))
    for lang in ("en", "es", "de", "fr", "zh"):
        result = result.when(scores[lang] == best, F.lit(lang))
    return result.otherwise(expr)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + lexical
    diversity + mean-token-length band. Pure arithmetic — identical
    formula is oracle-expressible."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / 100.0, F.lit(1.0))
    div = distinct_ratio(text)
    mtl = mean_token_len(text)
    mtl_score = F.when((mtl >= 3.0) & (mtl <= 10.0), 1.0).otherwise(0.5)
    return ((len_score + div + mtl_score) / 3.0).cast("double")


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lower-cased text — the exact-dedup key that
    is stable across engines (md5 is md5 everywhere)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def shingles(text: Column, k: int = 4) -> Column:
    """Word k-shingles of one row as an array column — the unit set for
    Jaccard/MinHash near-dup; docs shorter than k tokens yield their
    whole text as one shingle. An expression, so it composes anywhere,
    but its ``transform`` lambda runs interpreted (``CodegenFallback``
    in Spark 4.1); the dedup operators take the same shingles as rows
    from :func:`token_windows`."""
    t = tokens(text)
    n = F.size(t)
    return F.when(n <= k, F.array(F.array_join(t, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
    )


def scrub(text: Column) -> Column:
    """PII/noise scrubbing for training text: mask emails, then URLs,
    then standalone long digit runs (6+, i.e. ids/phones — applied
    after emails/URLs so their digits are already masked). Pure
    `regexp_replace` chain — codegen'd, and the same patterns/order run
    verbatim in the DuckDB oracle ('g' flag = Spark's replace-all
    default)."""
    t = F.regexp_replace(text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>")
    t = F.regexp_replace(t, r"https?://[^\s]+", "<URL>")
    t = F.regexp_replace(t, r"\b[0-9]{6,}\b", "<NUM>")
    return t


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bigrams: bool = True,
) -> DataFrame:
    """Gopher-style intra-document repetition scores (Rae et al. 2021,
    arXiv:2112.11446 §A1.1 — public paper): per doc,

    - ``dup_token_ratio``  = 1 - distinct_tokens / n_tokens
    - ``top_bigram_frac``  = count of the most frequent word-2-gram /
      total bigrams (ties on count don't matter: only the max count is
      used, never which bigram attains it)

    Docs with < 2 tokens have no bigrams and are excluded (the
    filter-by-threshold consumer treats missing as "keep").

    Plan shape: the token rows and bigrams are one
    :func:`token_windows` pass (k = 2), with no shuffle of its own; the
    token counts are one aggregate by ``id_col``, the bigram counts one
    by (``id_col``, bigram) and then one by ``id_col``. All ratios are
    exact-integer counts divided once in IEEE double —
    engine-portable.

    ``bigrams=False`` returns only ``dup_token_ratio`` and skips the
    whole per-(doc, bigram) aggregate — consumers that filter on the
    token ratio alone (the curation pipeline) shouldn't pay for two
    aggregates Catalyst cannot prune out of the join."""
    toks = token_windows(df, 2, id_col, text_col)
    dup_ratio = (
        F.lit(1.0)
        - F.col("n_distinct").cast("double") / F.col("n_tok").cast("double")
    ).alias("dup_token_ratio")
    # Rows with < 2 tokens drop out inside the aggregate, not by a row
    # filter: Catalyst pushes a filter on ``n`` below the generator,
    # where it tokenizes every row a second time.
    counted = F.col("n") >= 2
    tok_stats = (
        toks.groupBy(id_col)
        .agg(
            F.count(F.when(counted, 1)).alias("n_tok"),
            F.size(F.collect_set(F.when(counted, F.col("tok")))).alias("n_distinct"),
        )
        .filter(F.col("n_tok") > 0)
    )
    if not bigrams:
        return tok_stats.select(id_col, dup_ratio)
    per_bigram = (
        toks.filter(F.col("pos") + 2 <= F.col("n"))
        .groupBy(id_col, "window")
        .agg(F.count("*").alias("cnt"))
    )
    bg_stats = per_bigram.groupBy(id_col).agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("total_bg")
    )
    return tok_stats.join(bg_stats, id_col).select(
        id_col,
        dup_ratio,
        (
            F.col("top_cnt").cast("double") / F.col("total_bg").cast("double")
        ).alias("top_bigram_frac"),
    )


#: r12: distinct-word bound under which BPE training runs DRIVER-LOCALLY
#: (the similarity.DRIVER_TRAIN_BOUND recipe, §1.2/§5): the vocabulary
#: is metadata-scale by construction (distinct [a-z]+ words — the
#: corpus-sized tokenize+count pass stays distributed and is the ONE
#: job the local path runs), and every training step is integer counts
#: + ASCII compares, so the pure-Python loop is EXACTLY the unrolled
#: CTE arithmetic — bit-equal, oracle-gated. 65536 (w, freq) rows is a
#: few MB on the driver; past the bound the distributed per-round loop
#: below is unchanged (web-scale vocabularies are millions of words).
BPE_DRIVER_VOCAB_BOUND = 65_536


def _bpe_train_local(
    vocab_rows: list[tuple[str, int]], rounds: int
) -> tuple[
    list[tuple[int, str, str, int]],
    list[tuple[str, int, list[str]]],
    list[tuple[int, int | None, int]],
]:
    """Pure-Python BPE training over a collected (word, freq)
    vocabulary — the driver-local twin of the distributed loop in
    :func:`bpe_merges`, and the same arithmetic as the tests'
    independent ``_ref_bpe`` reference: per round, integer
    frequency-weighted pair counts, winner = (count DESC, lhs, rhs)
    with Python's code-point string compare (== UTF-8 byte order ==
    both engines' binary collation), greedy-leftmost non-overlapping
    merge. Returns ``(merges, words, levels)``: the merge table rows,
    the final per-word symbol lists, and per-level
    ``(round, corpus_tokens, vocab_used)`` stats for rounds 0..rounds
    (corpus_tokens is None for an empty vocabulary — SUM over zero
    rows is NULL in both engines)."""
    words = [(w, int(f), list(w)) for w, f in vocab_rows]

    def _level(rnd: int) -> tuple[int, int | None, int]:
        toks = sum(f * len(syms) for _, f, syms in words) if words else None
        used = len({s for _, _, syms in words for s in syms})
        return (rnd, toks, used)

    merges: list[tuple[int, str, str, int]] = []
    levels = [_level(0)]
    for rnd in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for _, f, syms in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if counts:
            (lhs, rhs), pc = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rnd, lhs, rhs, pc))
            for wi, (w, f, syms) in enumerate(words):
                out: list[str] = []
                i, n = 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == lhs and syms[i + 1] == rhs:
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                words[wi] = (w, f, out)
        levels.append(_level(rnd))
    return merges, words, levels


def _bpe_merges_driver_local(
    spark,
    probe_rows: list,
    freq_dt,
    rounds: int,
    with_vocab: bool,
    with_level_stats: bool,
):
    """Assemble :func:`bpe_merges`' return shape(s) from the local
    trainer, with schemas matching the distributed path's exactly
    (round/pos IntegerType like lit()/row_number, counts LongType,
    freq = the input column's own type)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    merges, toks, levels = _bpe_train_local(
        [(r[0], r[1]) for r in probe_rows], rounds
    )
    merges_schema = StructType(
        [
            StructField("round", IntegerType()),
            StructField("lhs", StringType()),
            StructField("rhs", StringType()),
            StructField("pair_count", LongType()),
        ]
    )
    res = spark.createDataFrame(merges, merges_schema)
    if with_level_stats:
        stats_schema = StructType(
            [
                StructField("round", IntegerType()),
                StructField("corpus_tokens", LongType()),
                StructField("vocab_used", LongType()),
            ]
        )
        return res, spark.createDataFrame(levels, stats_schema)
    if with_vocab:
        vocab_schema = StructType(
            [
                StructField("w", StringType()),
                StructField("freq", freq_dt),
                StructField("pos", IntegerType()),
                StructField("sym", StringType()),
            ]
        )
        vocab_rows = [
            (w, f, i + 1, s)
            for w, f, syms in toks
            for i, s in enumerate(syms)
        ]
        return res, spark.createDataFrame(vocab_rows, vocab_schema)
    return res


def bpe_merges(
    words: DataFrame,
    rounds: int = 6,
    word_col: str = "w",
    freq_col: str = "freq",
    with_vocab: bool = False,
    with_level_stats: bool = False,
):
    """BPE tokenizer TRAINING (Sennrich et al. 2016): starting from a
    frequency-weighted vocabulary (``word, freq``) split into
    characters, run ``rounds`` merge iterations — each round counts
    adjacent symbol pairs across the vocabulary (weighted by word
    frequency), picks the most frequent pair (ties broken
    lexicographically on (lhs, rhs) — integer counts + ASCII compare,
    so the winner is deterministic in any engine), and merges its
    GREEDY-LEFTMOST non-overlapping occurrences in every word (for a
    run like ``xxx`` with winner (x,x), only the first pair merges —
    the run-parity window below). Returns the trained merge table
    ``(round, lhs, rhs, pair_count)``; with ``with_vocab=True``,
    returns ``(merges, vocab)`` where vocab is the post-merge
    tokenization of every word (``w, freq, pos, sym``) — the encode
    side of the tokenizer (tokens-per-word under the trained merges).

    Exactly DuckDB-oracle-able despite being iterative: every round is
    integer counts + string compares, so the oracle unrolls the same
    rounds as CTE levels (the q_graph_pagerank discipline).

    Scale shape: the expensive corpus-sized step (tokenize + word
    count) happens BEFORE this operator, once; training then iterates
    on the VOCABULARY table (symbols-per-word rows ≈ Σ|word| over
    distinct words — millions of rows at web scale, independent of
    corpus size), one word-keyed window + one map-side-combined pair
    aggregate + one 1-row broadcast winner per round, lineage truncated
    per round (localCheckpoint, the kcore discipline). r12: under
    ``BPE_DRIVER_VOCAB_BOUND`` distinct words the whole loop instead
    runs driver-locally after ONE bounded collect of the vocabulary
    (:func:`_bpe_train_local` — identical integer/string arithmetic,
    exact-oracle-gated); past the bound the distributed loop below is
    unchanged."""
    if with_vocab and with_level_stats:
        # the with_level_stats return path would silently drop the vocab
        # (r9 advice) — no caller needs both; fail loudly instead
        raise ValueError(
            "bpe_merges: with_vocab and with_level_stats are mutually "
            "exclusive — request one, or call twice"
        )
    # r12 driver-local fast path (§1.2 — remove the 6 sequential
    # per-round distributed jobs the vocabulary-sized loop paid; the
    # kmeans_centroids/pq_codebooks recipe, here ORACLE-GATED exact):
    # ONE bounded collect of the vocabulary (limit B+1: ≤ B rows back
    # means we hold the complete vocabulary), then the pure-Python
    # trainer — integer counts + code-point compares == the unrolled
    # CTE arithmetic bit-for-bit. Null word/freq rows (no caller
    # produces them) fall through to the distributed loop.
    # fast path only for INTEGRAL freq columns (r12 advice): the local
    # trainer runs int(f) counts, which would TRUNCATE a fractional
    # Double/Decimal freq and diverge from the distributed weighted
    # sums — those dtypes take the unchanged distributed loop below.
    _freq_integral = isinstance(
        words.schema[freq_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    if BPE_DRIVER_VOCAB_BOUND > 0 and _freq_integral:
        probe = (
            words.select(F.col(word_col).alias("w"), F.col(freq_col).alias("freq"))
            .limit(BPE_DRIVER_VOCAB_BOUND + 1)
            .collect()
        )
        if len(probe) <= BPE_DRIVER_VOCAB_BOUND and all(
            r[0] is not None and r[1] is not None for r in probe
        ):
            return _bpe_merges_driver_local(
                words.sparkSession,
                probe,
                words.schema[freq_col].dataType,
                rounds,
                with_vocab,
                with_level_stats,
            )
    wo = Window.partitionBy("w").orderBy("pos")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    # char split via sequence+substring (NOT F.split(w, "(?!^)"), whose
    # zero-width match emits a trailing EMPTY symbol per word)
    t = (
        words.select(
            F.col(word_col).alias("w"),
            F.col(freq_col).alias("freq"),
            F.explode(F.sequence(F.lit(1), F.length(word_col))).alias("pos"),
        )
        .select(
            "w", "freq", "pos", F.expr("substring(w, pos, 1)").alias("sym")
        )
        # PIN the word-keyed partitioning (CLAUDE.md AQE rule): the
        # vocabulary table is fixture-small, AQE coalesces its exchange
        # to ONE partition and then every round's per-word window sorts
        # serially — measured 4.3 -> 3.6 s on q_llm_bpe_encode (the
        # rest is the 6 sequential per-round job launches, not the
        # sort). An explicit repartition is exempt from AQE coalescing
        # and every later window over `w` reuses it.
        .repartition(
            words.sparkSession.sparkContext.defaultParallelism, "w"
        )
    )
    def _level(rnd: int, lvl: DataFrame) -> DataFrame:
        # per-level tokenizer stats: corpus token count (symbol rows
        # weighted by word freq) + distinct symbols in use — the
        # vocab-size vs compression tradeoff one row per merge round
        return lvl.agg(
            F.sum("freq").cast("bigint").alias("corpus_tokens"),
            F.countDistinct("sym").cast("bigint").alias("vocab_used"),
        ).select(F.lit(rnd).cast("int").alias("round"), "*")

    out: list[DataFrame] = []
    levels: list[DataFrame] = [_level(0, t)] if with_level_stats else []
    for rnd in range(1, rounds + 1):
        pairs = t.withColumn("nsym", F.lead("sym").over(wo))
        win = (
            pairs.filter(F.col("nsym").isNotNull())
            .groupBy("sym", "nsym")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "sym", "nsym")
            .limit(1)
            .select(
                F.col("sym").alias("lhs"),
                F.col("nsym").alias("rhs"),
                F.col("pair_count").cast("bigint").alias("pair_count"),
            )
            # 1 row; consumed by the output union AND the merge pass —
            # and without eager materialization every later round would
            # re-execute this round's whole chain
            .localCheckpoint(eager=True)
        )
        out.append(
            win.select(F.lit(rnd).alias("round"), "lhs", "rhs", "pair_count")
        )
        step = (
            # LEFT join on a constant key, not crossJoin: when a corpus
            # runs out of pairs before `rounds` (all words fully merged
            # or single-char), win is EMPTY and a crossJoin would wipe
            # the vocabulary — the left join passes t through unchanged
            # (is_cand coalesces to false) and later rounds emit no
            # merges, matching the reference algorithm's early stop
            pairs.withColumn("__k", F.lit(1))
            .join(
                F.broadcast(
                    win.select("lhs", "rhs").withColumn("__k", F.lit(1))
                ),
                "__k",
                "left",
            )
            .drop("__k")
            .withColumn(
                "is_cand",
                F.coalesce(
                    (F.col("sym") == F.col("lhs"))
                    & F.col("nsym").isNotNull()
                    & (F.col("nsym") == F.col("rhs")),
                    F.lit(False),
                ),
            )
            # greedy-leftmost: consecutive candidates (only possible for
            # lhs == rhs runs) group by (pos − running candidate count),
            # constant within a run, strictly increasing across runs;
            # odd rank within the run merges, even is consumed by its
            # left neighbor
            .withColumn(
                "grp", F.col("pos") - F.sum(F.col("is_cand").cast("long")).over(wcum)
            )
            .withColumn(
                "do_merge",
                F.col("is_cand")
                & (
                    F.row_number().over(
                        Window.partitionBy("w", "is_cand", "grp").orderBy("pos")
                    )
                    % 2
                    == 1
                ),
            )
            .withColumn(
                "consumed",
                F.coalesce(F.lag("do_merge").over(wo), F.lit(False)),
            )
        )
        t = (
            step.filter(~F.col("consumed"))
            .select(
                "w",
                "freq",
                F.row_number().over(wo).alias("pos"),
                F.when(F.col("do_merge"), F.concat("sym", "nsym"))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint(eager=True)
        )
        if with_level_stats:
            levels.append(_level(rnd, t))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    if with_level_stats:
        stats = levels[0]
        for df in levels[1:]:
            stats = stats.unionByName(df)
        return res, stats
    return (res, t) if with_vocab else res


def _compress_batch(
    pdf: "pd.DataFrame", id_col: str, text_col: str, level: int
) -> "pd.DataFrame":
    """One Arrow batch of the zlib screen. Purely POSITIONAL: the id
    column is normalized with `.to_numpy()` so a non-RangeIndex batch
    (e.g. a pandas-side filter inserted upstream) cannot silently
    misalign the index-carrying Series against the positional lists
    (r10 advice; regression in tests/test_llm_ops.py)."""
    import zlib

    raw = [t.encode("utf-8") if t is not None else b"" for t in pdf[text_col]]
    raw_n = [len(b) for b in raw]
    comp_n = [len(zlib.compress(b, level)) for b in raw]
    return pd.DataFrame(
        {
            id_col: pdf[id_col].to_numpy(),
            "raw_bytes": pd.Series(raw_n, dtype="int64"),
            "compressed_bytes": pd.Series(comp_n, dtype="int64"),
            "compress_ratio": [
                (c / n) if n > 0 else None for c, n in zip(comp_n, raw_n)
            ],
        }
    )


def compress_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib COMPRESSION RATIO — the classic cheap
    boilerplate/repetition screen (the C4/Gopher-era "compressible =
    templated" heuristic, and CCNet's spiritual sibling to perplexity):
    highly repetitive or low-entropy text compresses far below natural
    prose (~0.4–0.7 for English), so a low ratio flags boilerplate and
    a ratio near (or above) 1.0 flags high-entropy noise (random
    strings compress to > 1.0 with header overhead).

    zlib at a FIXED level is deterministic for a given input, so the
    column is stable across runs/partitionings — but it is not
    SQL-expressible, hence rows-only (planted high/low-entropy
    invariants + a repetition-score cross-check in tests/test_llm_ops).

    Scale shape: one `mapInPandas` pass (Arrow-batched, one Python call
    per ~10k-row batch, zlib in C), no shuffle at all — the screen runs
    at scan speed next to the token/quality columns. Returns
    ``(id_col, raw_bytes, compressed_bytes, compress_ratio)``; empty
    docs get ratio NULL (guarded, the /0 rule)."""
    def score(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if pdf.empty:  # empty partitions: avoid object-dtype columns
                continue
            yield _compress_batch(pdf, id_col, text_col, level)

    return df.select(id_col, text_col).mapInPandas(
        score,
        schema=(
            f"{id_col} bigint, raw_bytes bigint, compressed_bytes bigint, "
            "compress_ratio double"
        ),
    )
