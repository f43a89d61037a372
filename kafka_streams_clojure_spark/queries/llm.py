"""LLM training-data pipeline query keys (SURVEY.md §2.11, north-star
mandate): dedup (exact / n-gram Jaccard / MinHash LSH / SimHash /
embedding-cosine), similarity search, text analysis, multimodal
plumbing — over the `documents` and `embeddings` fixtures.

Keys stay oracle-checked wherever both engines can express the exact
same arithmetic (token stats, Jaccard, cosine, fingerprints). Keys
built on engine-specific hashes (xxhash64) or approximation (LSH
recall) are rows-only by design, with invariant tests in
tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_clojure_spark.operators import text as TX
from kafka_streams_clojure_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from kafka_streams_clojure_spark.operators.multimodal import (
    attach_media,
    decode_audio_features,
    decode_image_features,
    text_to_bmp_blobs,
    text_to_wav_blobs,
)
from kafka_streams_clojure_spark.operators.similarity import (
    cosine,
    cosine_topk,
    cosine_topk_multi,
    cosine_topk_probe,
    embedding_cosine_near_dups,
    lsh_cosine_pairs,
    norm,
)
from kafka_streams_clojure_spark.queries import query
from kafka_streams_clojure_spark.queries._util import load_table, sql_davg

_TOK = "string_split_regex(text, '\\s+')"
_TOKL = "string_split_regex(lower(text), '\\s+')"

#: Engine-portable deterministic bucket in [0,100): both engines parse
#: the first 8 hex chars of md5(doc_id) into the same uint32. ONE
#: definition each side — q_llm_hash_sample, q_llm_decontaminate and
#: q_llm_curation must agree on the SPLIT itself, so they all call
#: these two twins.
_SQL_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


def _bucket() -> "F.Column":
    """Spark twin of :data:`_SQL_BUCKET`."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )


@query(
    "q_llm_exact_dedup",
    oracle="""
    SELECT fp, min(doc_id) AS keep_id, count(*) AS dup_cnt
    FROM (SELECT doc_id,
                 md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
          FROM documents)
    GROUP BY fp
    """,
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: normalized-text fingerprint → (representative,
    multiplicity). One shuffle keyed by a 128-bit digest — no text
    comparisons, no skew (digests are uniform)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


@query(
    "q_llm_dedup_keep_first",
    oracle="""
    SELECT doc_id, lang, source FROM documents d
    WHERE doc_id = (
      SELECT min(doc_id) FROM documents d2
      WHERE md5(lower(trim(regexp_replace(d2.text, '\\s+', ' ', 'g'))))
          = md5(lower(trim(regexp_replace(d.text,  '\\s+', ' ', 'g'))))
    )
    """,
)
def q_llm_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applied form of exact dedup: the corpus with only the first
    representative of each duplicate group kept (left-semi join against
    the keeper set)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang", "source")


@query(
    "q_llm_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_TOK})                                      AS n_tokens,
           len(list_distinct({_TOK}))                        AS n_distinct,
           CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / len({_TOK})                                   AS mean_token_len,
           CAST(len(list_filter({_TOKL},
                t -> list_contains(['the','and','of','to','in','is','that','for',
                                    'with','as','a','an','it','on','be','are','was'], t)))
                AS DOUBLE) / len({_TOKL})                    AS stopword_ratio
    FROM documents
    """,
)
def q_llm_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics — all codegen'd built-ins."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(c).alias("n_tokens"),
        F.size(F.array_distinct(TX.tokens(c))).alias("n_distinct"),
        TX.mean_token_len(c).alias("mean_token_len"),
        TX.stopword_ratio(c).alias("stopword_ratio"),
    )


@query(
    "q_llm_lang_filter",
    oracle="""
    SELECT source, count(*) AS n_docs, min(n_chars) AS min_chars
    FROM documents WHERE lang = 'en' GROUP BY source
    """,
)
def q_llm_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.min("n_chars").alias("min_chars"))
    )


_LANG_SQL_SCORES = {
    lang: (
        f"len(list_filter({_TOKL}, t -> list_contains("
        f"[{', '.join(repr(m) for m in TX.LANG_MARKERS[lang])}], t)))"
    )
    for lang in ("en", "es", "de", "fr", "zh")
}
_BEST = "greatest(" + ", ".join(f"s_{l}" for l in _LANG_SQL_SCORES) + ")"


@query(
    "q_llm_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"{sql} AS s_{l}" for l, sql in _LANG_SQL_SCORES.items())}
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN {_BEST} <= 0 THEN 'und'
                WHEN s_en = {_BEST} THEN 'en'
                WHEN s_es = {_BEST} THEN 'es'
                WHEN s_de = {_BEST} THEN 'de'
                WHEN s_fr = {_BEST} THEN 'fr'
                WHEN s_zh = {_BEST} THEN 'zh'
           END AS lang_pred
    FROM scored
    """,
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language function-word hit counts,
    argmax with a fixed tie order — identical CASE logic in the
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", TX.lang_id(F.col("text")).alias("lang_pred"))


@query(
    "q_llm_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST((
             least(len({_TOK}) / 100.0, 1.0)
             + CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK})
             + CASE WHEN (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                          / len({_TOK})) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.5 END
           ) / 3.0 AS DOUBLE) AS quality
    FROM documents
    """,
)
def q_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length band + lexical diversity +
    token-length band) — identical IEEE arithmetic on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


@query(
    "q_llm_quality_sample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST((
               least(len({_TOK}) / 100.0, 1.0)
               + CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK})
               + CASE WHEN (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                            / len({_TOK})) BETWEEN 3.0 AND 10.0
                      THEN 1.0 ELSE 0.5 END
             ) / 3.0 AS DOUBLE) AS quality,
             {_SQL_BUCKET} AS bkt
      FROM documents
    )
    SELECT doc_id, quality FROM scored WHERE bkt < floor(quality * 100)
    """,
)
def q_llm_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED downsampling: keep a doc with probability ∝ its
    quality score, deterministically — the doc's md5 bucket (0..99)
    accepted iff below floor(quality·100). No RNG: the kept set is
    reproducible and engine-portable (the bucket and the quality
    arithmetic are both already oracle-proven twins), which is how a
    real pipeline thins low-quality strata while keeping lineage
    auditable. Map-side only — no shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            TX.quality_score(F.col("text")).alias("quality"),
            _bucket().alias("bkt"),
        )
        .filter(F.col("bkt") < F.floor(F.col("quality") * 100))
        .select("doc_id", "quality")
    )


@query(
    "q_llm_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents
    """,
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable cross-engine document fingerprint (md5 of normalized
    text)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


#: CTE chain producing the word-4-gram Jaccard>=0.5 pair table — shared
#: by the pair key and the cluster key so their oracles can't drift.
_JACCARD_CTES = f"""
    toks AS (
      SELECT doc_id, {_TOK} AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) <= 4 THEN [array_to_string(t, ' ')]
                           ELSE list_transform(range(1, len(t) - 2),
                                               i -> array_to_string(t[i:i+3], ' '))
                      END) AS shingle
        FROM toks)
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT id_a, id_b,
             CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter) >= 0.5
    )
"""


@query(
    "q_llm_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT id_a, id_b, jaccard FROM jpairs
    """,
)
def q_llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-4-gram Jaccard >= 0.5.
    Candidates only from the shared-shingle equi-join — cost scales
    with shingle collisions, never docs²."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, k=4, threshold=0.5)


@query(
    "q_llm_collocations",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w,
             generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
               AS pos
      FROM documents
    ),
    big AS (
      SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM toks
    ),
    b AS (SELECT * FROM big WHERE w2 IS NOT NULL),
    tot AS (SELECT count(*) AS n_tot FROM b),
    ul AS (SELECT w, count(*) AS n_w FROM b GROUP BY w),
    ur AS (SELECT w2, count(*) AS n_w2 FROM b GROUP BY w2),
    pc AS (SELECT w, w2, count(*) AS n_pair FROM b GROUP BY w, w2
           HAVING count(*) >= 5)
    SELECT pc.w, pc.w2, pc.n_pair,
           (CAST(pc.n_pair AS DOUBLE) * CAST(tot.n_tot AS DOUBLE))
             / (CAST(ul.n_w AS DOUBLE) * CAST(ur.n_w2 AS DOUBLE)) AS lift
    FROM pc JOIN ul USING (w) JOIN ur USING (w2), tot
    ORDER BY lift DESC, w, w2 LIMIT 20
    """,
)
def q_llm_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram COLLOCATIONS by lift — p(w1,w2)/(p(w1)·p(w2)),
    the division-only twin of PMI (ln is libm-banned on oracle paths;
    lift preserves PMI's ranking exactly). The corpus-statistics probe
    behind tokenizer-merge candidates, stopword-phrase detection, and
    boilerplate discovery. Bigrams are the full 2-token
    :func:`operators.text.token_windows` of the lower-cased text (no
    shuffle); tokens never contain the joining space, so the window
    splits back into (w, w2) at its only space. Counts are exact
    integers, lift is one IEEE division; a count floor (>= 5) plus
    (lift, w, w2) ordering makes the top-20 deterministic."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    docs = load_table(spark, sf_dir, "documents")
    b = persist_if_uncached(
        TX.token_windows(docs, 2, text=F.lower("text"))
        .filter(F.col("pos") + 2 <= F.col("n"))
        .select(F.col("tok").alias("w"), F.substring_index("window", " ", -1).alias("w2"))
    )
    tot = b.agg(F.count("*").alias("n_tot"))
    ul = b.groupBy("w").agg(F.count("*").alias("n_w"))
    ur = b.groupBy("w2").agg(F.count("*").alias("n_w2"))
    pc = b.groupBy("w", "w2").agg(F.count("*").alias("n_pair")).filter(
        F.col("n_pair") >= 5
    )
    lift = (
        F.col("n_pair").cast("double") * F.col("n_tot").cast("double")
    ) / (F.col("n_w").cast("double") * F.col("n_w2").cast("double"))
    return (
        pc.join(ul, "w")
        .join(ur, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w", "w2", "n_pair", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "w", "w2")
        .limit(20)
    )


@query(
    "q_llm_graph_triangles",
    oracle=f"""
    WITH {_JACCARD_CTES},
    e AS (SELECT id_a, id_b FROM jpairs),
    tri AS (
      SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM e e1 JOIN e e2 ON e1.id_b = e2.id_a
      JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    tv AS (
      SELECT doc_id, count(*) AS n_triangles
      FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri) GROUP BY doc_id
    ),
    deg AS (
      SELECT doc_id, count(*) AS degree FROM (
        SELECT id_a AS doc_id FROM e UNION ALL SELECT id_b FROM e
      ) GROUP BY doc_id
    )
    SELECT d.doc_id, d.degree,
           CAST(coalesce(tv.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN 2.0 * CAST(coalesce(tv.n_triangles, 0) AS DOUBLE)
                     / (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE))
           END AS clustering
    FROM deg d LEFT JOIN tv ON tv.doc_id = d.doc_id
    """,
)
def q_llm_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the Jaccard
    near-dup graph (operators/graph.triangle_stats): a pair inside a
    triangle is corroborated by a third document, a clustering-0
    bridge edge is the classic dedup false-positive shape — a
    per-vertex confidence feature on top of the cluster closure. The
    ordered-triple join finds each triangle exactly once; integers
    end-to-end except the final coefficient ratio (identical IEEE
    division both engines)."""
    from kafka_streams_clojure_spark.operators.graph import triangle_stats

    docs = load_table(spark, sf_dir, "documents")
    return triangle_stats(ngram_jaccard_pairs(docs, k=4, threshold=0.5))


#: Stop-shingle cut for the capped keys. Fixture-scaled: sf0.01's max
#: shingle doc-freq is 4, so <=2 actually exercises the cut (25 -> 22
#: pairs); a web-scale corpus would use O(10^3..10^4). The cut is
#: DETERMINISTIC (a doc-freq filter, not a hash), so it is
#: oracle-checkable — this is the one dedup shape you'd actually run
#: at 100 TB, and it gets the same exact gate as the uncapped path.
_STOP_SHINGLE_CAP = 2


@query(
    "q_llm_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) <= 4 THEN [array_to_string(t, ' ')]
                           ELSE list_transform(range(1, len(t) - 2),
                                               i -> array_to_string(t[i:i+3], ' '))
                      END) AS shingle
        FROM toks)
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {_STOP_SHINGLE_CAP}
    ),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / CAST(sa.set_size AS DOUBLE) AS cont_a,
           CAST(n_inter AS DOUBLE) / CAST(sb.set_size AS DOUBLE) AS cont_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(CAST(n_inter AS DOUBLE) / CAST(sa.set_size AS DOUBLE),
                   CAST(n_inter AS DOUBLE) / CAST(sb.set_size AS DOUBLE)) >= 0.8
    """,
)
def q_llm_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: max(|A∩B|/|A|, |A∩B|/|B|)
    >= 0.8 over word-4-gram sets — catches a short document embedded
    verbatim in a long one (quotes, excerpts, boilerplate wrappers),
    which symmetric Jaccard scores near zero. Same never-docs² shared-
    shingle plan as q_llm_ngram_jaccard, and — like the capped Jaccard
    twin — with the ``_STOP_SHINGLE_CAP`` stop-shingle cut on the join
    input: a boilerplate shingle in F docs costs F² candidate rows, so
    the cut is what bounds the hot-shingle tail at 100 TB (r6 verdict
    item 1). Set sizes stay FULL, so containment is a lower bound
    (intersection over rare shingles only) — pairs that overlap only
    in boilerplate drop out, the semantics a dedup pipeline wants."""
    from kafka_streams_clojure_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, k=4, threshold=0.8, max_doc_freq=_STOP_SHINGLE_CAP
    )


@query(
    "q_llm_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jpairs
      UNION
      SELECT id_b, id_a FROM jpairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    )
    SELECT id AS doc_id,
           min(r) AS canonical_id,
           (id = min(r)) AS is_canonical
    FROM reach GROUP BY id
    """,
)
def q_llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: transitive closure of the Jaccard pair graph
    via iterative min-label propagation (operators/graph.py — the
    Pregel connected-components loop in DataFrame ops), picking the min
    doc_id as each cluster's canonical survivor. The oracle computes
    the same closure with a recursive CTE — per-pair dedup decisions
    become per-CLUSTER keep/drop lists, which is what a real pipeline
    executes."""
    from kafka_streams_clojure_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=4, threshold=0.5)
    return dedup_clusters(pairs)


#: Capped twin of _JACCARD_CTES: intersections count RARE shingles only
#: (doc-freq <= cap); union sizes stay FULL, so jaccard is the same
#: lower-bound semantics ngram_jaccard_pairs(max_doc_freq=...) computes.
_JACCARD_CAPPED_CTES = f"""
    {_JACCARD_CTES},
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {_STOP_SHINGLE_CAP}
    ),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    inter_c AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs_c AS (
      SELECT id_a, id_b,
             CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter)
               AS jaccard
      FROM inter_c
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter) >= 0.5
    )
"""


@query(
    "q_llm_ngram_jaccard_capped",
    oracle=f"""
    WITH {_JACCARD_CAPPED_CTES}
    SELECT id_a, id_b, jaccard FROM jpairs_c
    """,
)
def q_llm_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION Jaccard near-dup shape: same shared-shingle
    equi-join, but shingles appearing in more than ``_STOP_SHINGLE_CAP``
    docs (boilerplate/templates) are cut from the join — a shingle
    shared by X docs costs X² candidate rows, so the cap is what bounds
    the quadratic hot-shingle tail at 100 TB. Set sizes stay full, so
    the reported jaccard is a lower bound: pairs overlapping only in
    boilerplate drop out. Deterministic → exact-oracle-gated."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, k=4, threshold=0.5, max_doc_freq=_STOP_SHINGLE_CAP
    )


@query(
    "q_llm_dedup_clusters_capped",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CAPPED_CTES},
    edges_c AS (
      SELECT id_a AS src, id_b AS dst FROM jpairs_c
      UNION
      SELECT id_b, id_a FROM jpairs_c
    ),
    reach_c(id, r) AS (
      SELECT src, src FROM edges_c
      UNION
      SELECT e.src, reach_c.r FROM edges_c e JOIN reach_c ON e.dst = reach_c.id
    )
    SELECT id AS doc_id,
           min(r) AS canonical_id,
           (id = min(r)) AS is_canonical
    FROM reach_c GROUP BY id
    """,
)
def q_llm_dedup_clusters_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop lists over the CAPPED pair graph — clusters built on
    q_llm_ngram_jaccard_capped's edges via the same Pregel min-label
    closure. This is the end-to-end dedup pipeline you'd run at scale
    (stop-shingle cut + closure), now exact-oracle-gated."""
    from kafka_streams_clojure_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, k=4, threshold=0.5, max_doc_freq=_STOP_SHINGLE_CAP
    )
    return dedup_clusters(pairs)


@query("q_llm_near_dup")  # xxhash64-based — engine-specific, rows-only
def q_llm_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (32 hashes, 8 bands): the scale path —
    fixed-size signatures + banded bucket join. Rows-only (signatures
    are xxhash64, not portable to DuckDB); invariants tested against
    exact Jaccard in tests/test_llm_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, n_hashes=32, bands=8, threshold=0.5)


@query("q_llm_simhash")  # xxhash64-based — rows-only
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (64-bit signatures, 16-bit band blocking,
    Hamming <= 3)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dups(docs)


@query(
    "q_llm_embedding_norm",
    oracle="""
    SELECT vec_id, label,
           sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm
    FROM embeddings
    """,
)
def q_llm_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal vector column: L2 norm via Catalyst higher-order
    fold — both engines accumulate doubles left-to-right, bit-equal."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", norm(F.col("embedding")).alias("l2_norm"))


#: ONE home for the tie-free float-mean discipline shared by
#: q_llm_label_centroids and q_llm_nearest_centroid (guard:
#: tests/test_llm_ops.py::test_centroid_scale_is_tie_free; rationale in
#: the centroids docstring + SCALE.md). A scale bump lands HERE, in
#: both engines at once.
_SQL_EMB_EXPLODED = """
      SELECT label,
             unnest(generate_series(0, len(embedding) - 1)) AS dim,
             unnest(embedding) AS x
      FROM embeddings
"""
_SQL_F32_MEAN = (
    "CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE)"
    " / count(x) AS DOUBLE)"
)


def _f32_mean(col: str = "x") -> "F.Column":
    """Spark twin of :data:`_SQL_F32_MEAN`."""
    return (
        (
            F.sum(F.col(col).cast("double").cast("decimal(28,8)")).cast("double")
            / F.count(col)
        )
        .cast("double")
    )


def _emb_exploded(emb: DataFrame) -> DataFrame:
    """Spark twin of :data:`_SQL_EMB_EXPLODED`."""
    return emb.select("label", F.posexplode("embedding").alias("dim", "x"))


@query(
    "q_llm_label_centroids",
    oracle=f"""
    WITH ex AS ({_SQL_EMB_EXPLODED})
    SELECT label, dim,
           {_SQL_F32_MEAN} AS centroid,
           count(x) AS n_vectors
    FROM ex GROUP BY label, dim
    """,
)
def q_llm_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class means — the building block
    of nearest-centroid classification, cluster summaries, and drift
    monitoring), in exploded (label, dim, centroid) form so the mean is
    a plain two-phase aggregation: posexplode once, one shuffle on
    (label, dim), never a per-row Python loop.

    Cross-ROW float means need the decimal discipline (CLAUDE.md), and
    float inputs add a twist the double keys don't have: Spark casts
    double→decimal through the SHORTEST decimal string while DuckDB
    expands the exact binary fraction, so the two engines agree on the
    rounded value at every scale EXCEPT on exact dyadic ties, where
    their half-up vs half-even modes split. DECIMAL(28,8) is tie-free
    for the fixtures — a tie needs an element with exactly 9
    fractional binary digits and none exists at any sf
    (tests/test_llm_ops.py::test_centroid_scale_is_tie_free guards
    this, with instructions to bump the scale if fixtures ever
    change)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _emb_exploded(emb)
        .groupBy("label", "dim")
        .agg(
            _f32_mean().alias("centroid"),
            F.count("x").alias("n_vectors"),
        )
    )


@query(
    "q_llm_nearest_centroid",
    oracle=f"""
    WITH ex AS ({_SQL_EMB_EXPLODED}),
    cent AS (
      SELECT label AS clabel, dim, {_SQL_F32_MEAN} AS c
      FROM ex GROUP BY 1, 2
    ),
    cvecs AS (SELECT clabel, list(c ORDER BY dim) AS cvec FROM cent GROUP BY clabel),
    scored AS (
      SELECT e.vec_id, e.label, v.clabel,
             list_sum(list_transform(range(1, 65),
               i -> (CAST(e.embedding[i] AS DOUBLE) - v.cvec[i])
                    * (CAST(e.embedding[i] AS DOUBLE) - v.cvec[i]))) AS d2
      FROM embeddings e, cvecs v
    ),
    best AS (
      SELECT vec_id, label, clabel,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      FROM scored
    )
    SELECT label, clabel AS assigned, count(*) AS n
    FROM best WHERE rn = 1 GROUP BY label, clabel
    """,
)
def q_llm_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification + confusion matrix: assign every
    embedding to the label whose centroid is closest (squared
    euclidean), then count (true label, assigned) pairs — the standard
    quick read on whether an embedding space separates its classes,
    and the assignment step of centroid-based clustering.

    Exactness stack: centroids reuse q_llm_label_centroids' tie-free
    DECIMAL(28,8) means, assembled into per-label arrays in-plan
    (array_sort by dim — no driver collect); distances are a
    SEQUENTIAL left-to-right fold over the 64 dims (zip_with +
    aggregate vs DuckDB list_sum — the q_llm_cosine_topk parity
    precedent), never a cross-row double sum; argmin breaks exact
    distance ties by label. Scale shape: the 10×64 centroid table
    broadcasts; the corpus is scanned once and shuffles only the
    per-vector argmin row."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = _emb_exploded(emb).groupBy("label", "dim").agg(_f32_mean().alias("c"))
    cvecs = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.array_sort(F.collect_list(F.struct("dim", "c"))).getField("c").alias("cvec")
    )
    diff2 = F.zip_with(
        F.col("embedding"),
        F.col("cvec"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    scored = emb.crossJoin(F.broadcast(cvecs)).select(
        "vec_id",
        "label",
        "clabel",
        F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    best = scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return best.groupBy("label", F.col("clabel").alias("assigned")).agg(
        F.count("*").alias("n")
    )


@query(
    "q_llm_cosine_topk",
    oracle="""
    WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           list_sum(list_transform(range(1, 65),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pv[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(p.pv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
             AS cos_sim
    FROM embeddings e, p
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search, exact baseline: brute-force cosine top-10 for
    a fixed probe (vec_id=0) — full scan + per-partition heaps
    (TakeOrderedAndProject), no shuffle of the corpus. The probe row is
    fetched *in-plan* (broadcast 1-row side), no driver .head()."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_probe(emb, emb.filter(F.col("vec_id") == 0), k=10)


@query(
    "q_llm_topk_multi",
    oracle="""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT p.probe_id, e.vec_id,
             list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(p.pv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
               AS cos_sim
      FROM embeddings e CROSS JOIN probes p
    )
    SELECT probe_id, vec_id, cos_sim
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, vec_id) <= 5
    """,
)
def q_llm_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch similarity search — exact top-5 per probe for a probe SET
    (vec_id < 5), the "many probes at once" 100 TB shape: one corpus
    scan, probes broadcast, ranking window prunes to k per probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_multi(emb, emb.filter(F.col("vec_id") < 5), k=5)


@query("q_llm_ivf_topk")  # iterative k-means quantizer — rows-only
def q_llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (the FAISS-style inverted-file shape, second scale
    path besides sign-LSH): deterministic Lloyd's k-means coarse
    quantizer (3 iterations, pure DataFrame ops), corpus bucketed by
    nearest cell, probes search their n_probe nearest cells only.
    Rows-only: the quantizer is iterative (non-SQL); recall + pruning
    invariants in tests/test_llm_ops.py."""
    from kafka_streams_clojure_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(kmeans_centroids(emb, k=16, iters=3))
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 5), cents, k=5, n_probe=4)


@query("q_llm_pq_topk")  # iterative k-means codebooks — rows-only
def q_llm_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS-PQ memory-side scale path,
    third ANN family beside sign-LSH and IVF): per-subspace k-means
    codebooks compress each vector to m=8 codes (32× vs raw floats);
    probes score candidates by asymmetric distance — m broadcast
    table lookups summed — so query time never touches raw vectors.
    Rows-only: the codebook build is iterative (non-SQL); the own-code
    optimality guarantee + planted-duplicate invariants live in
    tests/test_llm_ops.py."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached
    from kafka_streams_clojure_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = persist_if_uncached(pq_codebooks(emb, m=8, k=16, iters=2))
    return pq_topk(emb, emb.filter(F.col("vec_id") < 5), books, k=5)


@query("q_llm_cosine_ann")  # LSH recall is probabilistic — rows-only
def q_llm_cosine_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search, scale path: random-hyperplane sign-LSH
    bucketing with 1-bit MULTI-PROBE (r6 verdict #2), exact cosine
    verification on collisions. Threshold 0.4 because the fixture's
    vectors are near-orthogonal (max pairwise cosine ≈ 0.5), and the
    geometry is matched to that LOW threshold: cos 0.4 → collision
    prob per plane ≈ 0.63, so 6 planes × 8 tables alone gave ≈
    1-(1-0.63^6)^8 ≈ 40% recall (r6's measured 26 of 59 true pairs at
    sf0.01); probing each single-bit-flipped neighbor bucket lifts the
    per-table collision to p^6 + 6·p^5(1-p) ≈ 0.28 → predicted ≈93%,
    MEASURED 0.915 at sf0.01 and 0.864 at sf0.001 — at the cost of a
    7× wider probe side, keeping the bucketed equi-join shape (never
    all-pairs). The earlier 12×4 geometry had ≈1.6% recall at this
    threshold and returned 0 natural rows; 12-plane buckets are the
    HIGH-threshold (~0.9, near-dup) geometry, which the planted-dup
    recall tests still exercise."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_cosine_pairs(emb, n_planes=6, n_tables=8, threshold=0.4, multiprobe=1)


@query(
    "q_llm_embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(range(1, 65),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
             AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, 65),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
           >= 0.3
    """,
)
def q_llm_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact within label blocks
    (blocked all-pairs — the classic attribute-blocked dedup shape).
    Threshold 0.3 because the fixture's vectors are near-orthogonal
    (max pairwise cosine ≈ 0.48); real corpora would use ~0.95."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_near_dups(emb, block_col="label", threshold=0.3)


_COS_PAIRS_SQL = """
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
             >= 0.3
"""


@query(
    "q_llm_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE epairs AS ({_COS_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM epairs
      UNION
      SELECT id_b, id_a FROM epairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    )
    SELECT id AS doc_id,
           min(r) AS canonical_id,
           (id = min(r)) AS is_canonical
    FROM reach GROUP BY id
    """,
)
def q_llm_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS: the cosine twin of
    q_llm_dedup_clusters — transitive closure of the blocked exact
    cosine pair graph (q_llm_embedding_near_dup edges) via the same
    Pregel min-label propagation, min vec_id canonical. The oracle
    recomputes the identical edge set (cosine arithmetic already
    oracle-matched) and closes it with a recursive CTE. At scale the
    edge set comes from the LSH/IVF candidate paths instead; the
    closure operator is identical either way."""
    from kafka_streams_clojure_spark.operators.graph import dedup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_near_dups(emb, block_col="label", threshold=0.3).select(
        "id_a", "id_b"
    )
    return dedup_clusters(pairs)


@query(
    "q_llm_vocab",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS token FROM documents
    )
    SELECT token,
           count(*)                 AS tf,
           count(DISTINCT doc_id)   AS df
    FROM tok
    GROUP BY token
    HAVING count(DISTINCT doc_id) >= 5
    """,
)
def q_llm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: term frequency + document
    frequency per token (the df table that tf-idf / stop-shingle cuts
    are built from). One explode + one two-phase agg."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 5)
    )


@query(
    "q_llm_pipeline",
    oracle=f"""
    WITH keep AS (
      SELECT doc_id, lang, source, text FROM documents d
      WHERE doc_id = (
        SELECT min(doc_id) FROM documents d2
        WHERE md5(lower(trim(regexp_replace(d2.text, '\\s+', ' ', 'g'))))
            = md5(lower(trim(regexp_replace(d.text,  '\\s+', ' ', 'g'))))
      )
    ),
    en AS (SELECT * FROM keep WHERE lang = 'en'),
    scored AS (
      SELECT doc_id, source,
             len({_TOK}) AS n_tokens,
             CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK}) AS diversity
      FROM en
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE) AS total_tokens
    FROM scored
    WHERE n_tokens >= 20 AND diversity > 0.3
    GROUP BY source
    """,
)
def q_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline a reference user would run:
    exact dedup → language filter → quality gates (length + lexical
    diversity) → per-source corpus stats. Every stage is one of the
    engine's operators; the whole thing is one lazy Catalyst plan (the
    transducer-`comp` idiom at corpus scale)."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    deduped = exact_dedup(docs)
    en = deduped.filter(F.col("lang") == "en")
    scored = en.select(
        "doc_id",
        "source",
        TX.token_count(c).alias("n_tokens"),
        TX.distinct_ratio(c).alias("diversity"),
    )
    kept = scored.filter((F.col("n_tokens") >= 20) & (F.col("diversity") > 0.3))
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("decimal(18,4)")).cast("double").alias("total_tokens"),
    )


@query("q_llm_tfidf")  # ln() is libm-divergent across engines — rows-only
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scores per (doc, token) — explicit formula (tf ·
    ln(N/df)), all JVM-side: explode tokens → per-doc tf → join the
    corpus df table (broadcast: vocab ≪ corpus) → score. Rows-only
    because ln() differs in ulps between JVM and libm; invariants in
    tests (rare tokens outrank stopword-frequency tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    # Corpus size folded INTO the plan (broadcast 1-row aggregate) —
    # no separate docs.count() pass over 100 TB.
    n_docs = F.broadcast(docs.agg(F.count("*").alias("_n_docs")))
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_tbl = tok.distinct().groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log(F.col("_n_docs").cast("double") / F.col("df"))
    return (
        tf.join(F.broadcast(df_tbl), "token")
        .crossJoin(n_docs)
        .select("doc_id", "token", (F.col("tf") * idf).alias("tfidf"))
    )


@query("q_llm_winnow")  # rolling-hash signatures — engine-side UDF, rows-only
def q_llm_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash chunk signatures,
    Schleimer et al. SIGMOD'03): pairs of docs sharing >= 3 winnowed
    chunks — partial/chunk-level duplication that doc-level MinHash
    misses. Invariants in tests/test_llm_ops.py."""
    from kafka_streams_clojure_spark.operators.winnow import winnow_shared_chunks

    docs = load_table(spark, sf_dir, "documents")
    return winnow_shared_chunks(docs, min_shared=3)


@query("q_multimodal_features")  # binary round-trip — rows-only by design
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image path end-to-end with a REAL decoder: text
    bytes are re-encoded as genuine 24-bit BMP blobs (stdlib struct),
    typed metadata attached engine-side, then width/height/channels/
    mean_luma extracted by actually PARSING the BMP — all through
    Arrow-batched mapInPandas (invariants: tests/test_llm_ops.py)."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(text_to_bmp_blobs(docs), "blob", "image", "bmp")
    return decode_image_features(media, "blob", id_col="doc_id")


@query("q_multimodal_audio")  # binary round-trip — rows-only by design
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path end-to-end: text bytes as genuine 16-bit
    PCM WAV blobs (stdlib wave writer), then channels/rate/duration/
    RMS extracted by really parsing the WAV."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(text_to_wav_blobs(docs), "blob", "audio", "wav")
    return decode_audio_features(media, "blob", id_col="doc_id")


@query(
    "q_multimodal_frames",
    oracle="""
    WITH b AS (
      -- coalesce/greatest guards mirror the engine's empty-input
      -- fallback: text_to_wav_blobs encodes empty or NULL text as the
      -- single sample b'\\x00' -> amplitude (0-128)*256
      SELECT doc_id, hex(encode(text)) AS h,
             coalesce(octet_length(encode(text)), 0) AS n
      FROM documents
    ),
    idx AS (
      SELECT doc_id, h, unnest(range(0, greatest(n, 1), 8)) AS frame_idx FROM b
    )
    SELECT doc_id, frame_idx,
           (coalesce(TRY_CAST(('0x' || substr(h, CAST(frame_idx*2+1 AS INT), 2))
                              AS BIGINT), 0)
            - 128) * 256 AS amplitude
    FROM idx
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME SAMPLING over a media binary column, exactly oracle-gated:
    text bytes become real 16-bit mono PCM WAVs, and every 8th frame is
    emitted as its own typed row (the keyframe-extraction plumbing
    shape: 1 fat blob → N thin rows, Arrow-batched). Because the WAV
    samples are a deterministic function of the utf-8 bytes
    ((b-128)·256), DuckDB predicts every sampled amplitude by hex
    arithmetic on the text — the full encode→decode→stride path is
    value-checked, not just row-counted (first exactly-oracled
    multimodal key alongside q_multimodal_resize)."""
    from kafka_streams_clojure_spark.operators.multimodal import sample_wav_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_wav_frames(text_to_wav_blobs(docs), "blob", stride=8)


@query(
    "q_multimodal_resize",
    oracle="""
    WITH b AS (
      -- coalesce mirrors the engine's NULL-text fallback (b'\\x00'
      -- raster: one all-zero row); pos < n then yields 0 everywhere
      SELECT doc_id, hex(encode(text)) AS h,
             coalesce(octet_length(encode(text)), 0) AS n
      FROM documents
    ),
    dims AS (
      SELECT doc_id, h, n, CAST(ceil(greatest(n, 1) / 96.0) AS BIGINT) AS ht
      FROM b
    ),
    ys AS (SELECT doc_id, h, n, ht, unnest(range(0, ht, 2)) AS y FROM dims),
    xs AS (SELECT doc_id, h, n, ht, y, unnest(range(0, 32, 2)) AS x FROM ys),
    px AS (
      SELECT doc_id, h, n, ht, (y * 32 + x) * 3 + unnest([0, 1, 2]) AS pos
      FROM xs
    ),
    vals AS (
      SELECT doc_id, ht,
             CASE WHEN pos < n
                  THEN CAST(('0x' || substr(h, CAST(pos*2+1 AS INT), 2)) AS BIGINT)
                  ELSE 0 END AS v
      FROM px
    )
    SELECT doc_id, 16 AS width, CAST(ceil(ht / 2.0) AS INT) AS height,
           CAST(sum(v) AS DOUBLE) / count(*) / 255.0 AS mean_luma
    FROM vals GROUP BY doc_id, ht
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE RESIZE, exactly oracle-gated end-to-end: text bytes →
    real 24-bpp BMP (32 px wide) → nearest-neighbor 2× decimation
    (operators/multimodal.resize_bmp: decode, keep every 2nd pixel
    both axes, re-encode) → REAL decode of the resized blob. Kept
    pixels are bit-exact raster bytes at predictable offsets, so
    DuckDB recomputes the resized width/height/mean_luma from the
    text's hex bytes — codec, resize arithmetic, and re-encode are all
    value-checked against an engine that never saw a BMP."""
    from kafka_streams_clojure_spark.operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(text_to_bmp_blobs(docs), "blob", factor=2)
    return decode_image_features(resized, "blob").select(
        "doc_id", "width", "height", "mean_luma"
    )


@query(
    "q_llm_scrub",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
             '\b[0-9]{6,}\b', '<NUM>', 'g') AS clean_text
    FROM documents
    """,
)
def q_llm_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/noise scrubbing (emails → URLs → long digit runs, in that
    order): the mandatory sanitization pass of a training-data
    pipeline, as a pure codegen regexp_replace chain — no Python in
    the row path."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.scrub(F.col("text")).alias("clean_text"))


@query(
    "q_error_swallow",
    oracle="""
    SELECT event_id, value * 2.0 AS doubled
    FROM events WHERE event_type <> 'error'
    """,
)
def q_error_swallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record error tolerance (reference api.clj:21-24: failing
    records are dropped, the stream survives): user logic that RAISES
    on poison records ('error'-type events) runs inside
    tolerant_map_in_pandas — Arrow-batched happy path, row-isolated
    fallback; survivors match the oracle's clean subset exactly."""
    import pandas as pd

    from kafka_streams_clojure_spark.operators.errors import tolerant_map_in_pandas

    def double_or_die(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["event_type"] == "error").any():
            raise ValueError("poison record")
        out = pdf[["event_id"]].copy()
        out["doubled"] = pdf["value"] * 2.0
        return out

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return tolerant_map_in_pandas(
        ev, double_or_die, schema="event_id long, doubled double"
    )


@query(
    "q_llm_chunks",
    oracle="""
    SELECT doc_id,
           CAST(u.s AS INT)            AS chunk_start,
           substr(text, CAST(u.s AS INT), 64) AS chunk_text,
           CAST(length(substr(text, CAST(u.s AS INT), 64)) AS INT) AS chunk_len
    FROM documents, unnest(generate_series(1, CAST(n_chars AS INT), 48)) AS u(s)
    """,
)
def q_llm_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (window 64 chars,
    stride 48 — the context-window packing prep step; real pipelines
    use token windows, same plan shape).

    Plan shape: pure map-side — sequence() + explode + substring, all
    codegen, zero shuffles. Output grows by the overlap factor
    (64/48 ≈ 1.3×) but each task streams its own split; at 100 TB this
    is exactly as parallel as the parquet scan.

    Empty docs are filtered BEFORE the explode: ``sequence(1, 0)``
    throws in Spark while DuckDB's ``generate_series(1, 0)`` is
    silently empty — both engines must emit zero chunks for them, not
    one crash and one empty set."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("n_chars") >= 1)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.col("n_chars").cast("int"), F.lit(48))
            ).alias("chunk_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.expr("substring(text, chunk_start, 64)").alias("chunk_text"),
            F.length(F.expr("substring(text, chunk_start, 64)"))
            .cast("int")
            .alias("chunk_len"),
        )
    )


@query(
    "q_llm_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, bucket
    FROM (
      SELECT doc_id, lang, {_SQL_BUCKET} AS bucket
      FROM documents
    )
    WHERE bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
    """,
)
def q_llm_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: md5(doc_id)-derived bucket in
    [0,100), per-stratum keep-rate (downsample the dominant language —
    the data-mixture rebalancing step of corpus curation).

    Engine-portable hash: both engines parse the first 8 hex chars of
    md5 into the same uint32 (Spark ``conv(,16,10)``, DuckDB
    ``'0x'||…`` cast), so the SAMPLE ITSELF is reproducible across
    engines and runs — sample membership is a pure function of the
    stable doc_id, never of partitioning or RNG state. Map-side only,
    no shuffle; the filter is codegen and pushes nothing to Python."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _bucket()
    rate = F.when(F.col("lang") == "en", 10).otherwise(50)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


@query(
    "q_llm_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
           CAST(cum - n_tokens
                - 512 * floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_offset
    FROM packed
    """,
)
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents into fixed-token-budget
    (512) training sequences, contiguous-greedy within each source
    shard — each doc gets (pack_id, pack_offset) addressing its slot.

    Plan shape: one shuffle on ``source`` (the shard key), a running
    sum inside each shard (integer arithmetic — exact, order pinned by
    unique doc_id), then pure map-side bucket math. Packing is
    per-shard by design: at 100 TB a GLOBAL greedy pack would be a
    single sequential scan, while per-source packing parallelizes
    across shards exactly like the real thing (each worker packs its
    own file group)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    pack_id = F.floor(start / F.lit(512.0)).cast("bigint")
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        pack_id.alias("pack_id"),
        (start - F.lit(512) * pack_id).cast("bigint").alias("pack_offset"),
    )


def _sh_unnest(rel: str) -> str:
    """DuckDB word-4-gram shingle SQL over a (doc_id, t) relation —
    same contract as operators/dedup.shingle_sets (docs with <= 4
    tokens contribute their whole text as one shingle)."""
    return f"""
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) <= 4 THEN [array_to_string(t, ' ')]
                           ELSE list_transform(range(1, len(t) - 2),
                                               i -> array_to_string(t[i:i+3], ' '))
                      END) AS shingle
        FROM {rel})
    """


@query(
    "q_llm_decontaminate",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, {_SQL_BUCKET} AS bucket
      FROM documents
    ),
    bt AS (SELECT doc_id, {_TOK} AS t FROM b WHERE bucket < 5),
    tt AS (SELECT doc_id, {_TOK} AS t FROM b WHERE bucket >= 5),
    bsh AS (SELECT DISTINCT shingle FROM ({_sh_unnest('bt')})),
    tsh AS ({_sh_unnest('tt')})
    SELECT doc_id, count(*) AS n_hits
    FROM tsh JOIN bsh USING (shingle)
    GROUP BY doc_id
    """,
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    word-4-gram with the held-out eval slice (the deterministic 5%
    md5-bucket sample — same engine-portable bucket as
    q_llm_hash_sample, so both engines agree on the SPLIT as well as
    the overlap counts). Real pipelines run exactly this before
    training (eval sets are public text — they leak into crawls).

    Scale shape: the eval side's distinct shingles are broadcast
    (eval sets are tiny vs 100 TB of training text); the training
    corpus never shuffles for the probe — the only exchange is the
    per-doc hit count. See operators/dedup.decontaminate."""
    from kafka_streams_clojure_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    with_b = docs.select("doc_id", "text", _bucket().alias("bucket"))
    bench = with_b.filter(F.col("bucket") < 5)
    train = with_b.filter(F.col("bucket") >= 5)
    return decontaminate(train, bench)


@query(
    "q_llm_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS t FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(t) AS tk FROM toks WHERE len(t) >= 2
    ),
    tstats AS (
      SELECT doc_id, count(*) AS n_tok, count(DISTINCT tk) AS n_distinct
      FROM tok GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> array_to_string(t[i:i+1], ' '))) AS bg
      FROM toks WHERE len(t) >= 2
    ),
    bgc AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg),
    bgs AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS total_bg
            FROM bgc GROUP BY doc_id)
    SELECT t.doc_id,
           1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)
             AS dup_token_ratio,
           CAST(top_cnt AS DOUBLE) / CAST(total_bg AS DOUBLE)
             AS top_bigram_frac
    FROM tstats t JOIN bgs USING (doc_id)
    """,
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scores (Gopher quality rules):
    duplicate-token ratio and most-frequent-bigram fraction per doc —
    the standard "is this doc degenerate boilerplate?" filter signals.
    See operators/text.repetition_stats for the plan shape (one
    explode, one pinned shuffle on doc_id, codegen bigrams)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.repetition_stats(docs)


@query(
    "q_llm_curation",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, source, text,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             {_SQL_BUCKET} AS bucket
      FROM documents
    ),
    -- stage 1: exact dedup, min doc_id survives its fingerprint group
    keep1 AS (
      SELECT b.* FROM b
      JOIN (SELECT fp, min(doc_id) AS doc_id FROM b GROUP BY fp) k
        USING (fp, doc_id)
    ),
    -- stage 2: repetition filter (dup-token ratio <= 0.3; <2-token docs kept)
    tok AS (
      SELECT doc_id, unnest(t) AS tk, len(t) AS n
      FROM (SELECT doc_id, {_TOK} AS t FROM keep1)
    ),
    rep AS (
      SELECT doc_id,
             1.0 - CAST(count(DISTINCT tk) AS DOUBLE) / count(*) AS dup_ratio
      FROM tok WHERE n >= 2 GROUP BY doc_id
    ),
    keep2 AS (
      SELECT keep1.* FROM keep1 LEFT JOIN rep USING (doc_id)
      WHERE rep.dup_ratio IS NULL OR rep.dup_ratio <= 0.3
    ),
    -- stage 3: decontamination vs the bucket<5 eval slice
    bt AS (SELECT doc_id, {_TOK} AS t FROM b WHERE bucket < 5),
    tt AS (SELECT doc_id, {_TOK} AS t FROM keep2 WHERE bucket >= 5),
    bsh AS (SELECT DISTINCT shingle FROM ({_sh_unnest('bt')})),
    tsh AS ({_sh_unnest('tt')}),
    dirty AS (SELECT DISTINCT doc_id FROM tsh JOIN bsh USING (shingle)),
    keep3 AS (
      SELECT keep2.* FROM keep2
      WHERE bucket >= 5 AND doc_id NOT IN (SELECT doc_id FROM dirty)
    ),
    -- stage 4: stratified sample (en keeps bucket<50, others all)
    keep4 AS (
      SELECT * FROM keep3 WHERE lang <> 'en' OR bucket < 50
    )
    -- stage 5: per-lang corpus stats
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len({_TOK})) AS BIGINT) AS total_tokens
    FROM keep4 GROUP BY lang
    """,
)
def q_llm_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data CURATION pipeline, composed from the
    individual operators and lazily planned as ONE Catalyst job:
    exact dedup (keep-first) → repetition filter (dup-token ratio
    <= 0.3) → benchmark decontamination (drop docs overlapping the
    md5-bucket eval slice, and the slice itself) → deterministic
    stratified downsample of the dominant language → per-language
    corpus stats.

    Every stage is the SAME operator its standalone key checks
    (operators/dedup.exact_dedup, text.repetition_stats,
    dedup.decontaminate, the hash-sample bucket) — this key proves they
    compose. Scale shape: stages communicate by doc_id semi/anti joins
    (16-byte keys), text rides through untouched until the final token
    count; the eval shingle side broadcasts; nothing collects.
    ``keep1`` and ``train`` are each consumed by two downstream
    branches (stats + join / probe + anti-join), so both are persisted
    — without it the dedup+repetition prefix executes twice (measured
    2× wall at sf0.1)."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached
    from kafka_streams_clojure_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", "source", "text", _bucket().alias("bucket"))

    # stage 1: exact dedup keep-first
    keep1 = persist_if_uncached(exact_dedup(base))
    # stage 2: repetition filter (null-safe: short docs have no score;
    # bigrams=False — only the dup-token ratio is consumed, and Catalyst
    # can't prune the bigram aggregate out of the inner join itself)
    rep = TX.repetition_stats(keep1, bigrams=False)
    keep2 = keep1.join(rep, "doc_id", "left").filter(
        F.col("dup_token_ratio").isNull() | (F.col("dup_token_ratio") <= 0.3)
    ).drop("dup_token_ratio")
    # stage 3: decontaminate against the eval slice (drop slice + hits)
    bench = base.filter(F.col("bucket") < 5)
    train = persist_if_uncached(keep2.filter(F.col("bucket") >= 5))
    hits = decontaminate(train, bench).select("doc_id")
    keep3 = train.join(hits, "doc_id", "left_anti")
    # stage 4: stratified downsample of 'en'
    keep4 = keep3.filter((F.col("lang") != "en") | (F.col("bucket") < 50))
    # stage 5: per-lang stats
    return keep4.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), r"\s+")).cast("bigint"))
        .cast("bigint")
        .alias("total_tokens"),
    )


@query(
    "q_llm_domain_mix",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOK})) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS all_tokens FROM per)
    SELECT source, n_docs, total_tokens,
           CAST(total_tokens AS DOUBLE) / all_tokens AS token_share,
           sqrt(CAST(total_tokens AS DOUBLE) / all_tokens) AS sample_rate
    FROM per, tot
    """,
)
def q_llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing stats: per-source doc/token counts,
    token share, and a temperature-scaled sampling rate ∝ sqrt(share),
    i.e. share^(1/T) at temperature T=2, which up-weights rare domains
    — the standard multilingual mixture heuristic (e.g. XLM-R, public).

    Rates are deliberately UN-normalized: the normalizer is a sum of
    per-row doubles (sqrt outputs), which is partial-agg-order
    dependent — the per-source table is tiny (#sources rows), so
    consumers normalize it wherever they consume it. Everything summed
    here is an exact integer; share and sqrt are per-row IEEE ops.

    Scale shape: ONE map-side-combined aggregate keyed by source —
    persisted, because both the 1-row total and the final select read
    it (without the persist the corpus scan+tokenize runs twice; the
    two aggregate subtrees prune differently so exchange reuse never
    fires) — then a broadcast of the 1-row total folded into the plan
    (no driver-side count — VERDICT r1 item 5's rule)."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    docs = load_table(spark, sf_dir, "documents")
    per = persist_if_uncached(
        docs.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), r"\s+")).cast("bigint"))
            .cast("bigint")
            .alias("total_tokens"),
        )
    )
    tot = per.agg(F.sum("total_tokens").cast("bigint").alias("all_tokens"))
    share = F.col("total_tokens").cast("double") / F.col("all_tokens")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        share.alias("token_share"),
        F.sqrt(share).alias("sample_rate"),
    )


@query(
    "q_llm_length_hist",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(len({_TOK}) / 16) * 16 AS BIGINT) AS bucket_lo
      FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b)
    SELECT bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS DOUBLE) / n_total AS share
    FROM b, tot
    GROUP BY bucket_lo, n_total
    """,
)
def q_llm_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (bucket width 16): the corpus length
    distribution every curation run starts by eyeballing — truncation
    and boilerplate both show up as spikes.

    Plan shape: map-side bucket math, ONE aggregate keyed by bucket
    (bounded output: #buckets rows, persisted), then the total derived
    from the tiny BUCKET table itself — exact integer sum, broadcast
    back as one row. The corpus is scanned exactly once; the cross
    join runs per bucket row, never per document."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    docs = load_table(spark, sf_dir, "documents")
    per = persist_if_uncached(
        docs.select(
            (F.floor(F.size(F.split(F.col("text"), r"\s+")) / 16) * 16)
            .cast("bigint")
            .alias("bucket_lo")
        )
        .groupBy("bucket_lo")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    tot = per.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "bucket_lo",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("n_total")).alias("share"),
    )


@query(
    "q_llm_tfidf_linear",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS token FROM documents),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, token),
    dfv AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id, token, tf, df,
           tf * (CAST(n_docs AS DOUBLE) / df) AS score
    FROM tf JOIN dfv USING (token), tot
    """,
)
def q_llm_tfidf_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with LINEAR idf (tf · N/df, no logarithm): the
    oracle-checkable twin of q_llm_tfidf — ln() is libm-divergent
    across engines, plain division is IEEE-exact, so this variant
    closes the exact-diff gap the log variant must leave open (same
    ranking within a document: x ↦ ln(x) is monotone).

    Plan shape, improved over the log key: the df table derives from
    the ALREADY-AGGREGATED tf table (rows per (doc, token) → count per
    token), so the token explode is scanned once and shuffled once —
    the log key's tok.distinct() pass is gone. tf is persisted (read
    by both the output join and the df aggregate); N folds in as a
    broadcast 1-row aggregate."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    docs = load_table(spark, sf_dir, "documents")
    n_docs = F.broadcast(docs.agg(F.count("*").cast("bigint").alias("_n_docs")))
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    tf = persist_if_uncached(
        tok.groupBy("doc_id", "token").agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfv = tf.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    return (
        tf.join(dfv, "token")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (
                F.col("tf") * (F.col("_n_docs").cast("double") / F.col("df"))
            ).alias("score"),
        )
    )


@query(
    "q_llm_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding,
                    y -> abs(CAST(y AS DOUBLE)))) AS DOUBLE) AS scale
      FROM embeddings)
    SELECT vec_id, scale,
           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 127.0 / scale + 0.5)
                AS INT) AS q
    FROM s WHERE scale > 0
    """,
)
def q_llm_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 embedding quantization (the standard 4x storage/
    bandwidth cut before ANN serving): per-vector symmetric scale =
    max|x|, elements mapped to round-half-up(x*127/scale) — every step
    an exact IEEE double op (mult/div/floor, no libm), so the oracle is
    bit-exact. Output exploded to (vec_id, pos, q) rows: at 100 TB the
    quantized table is the thing written back to the lake, and row form
    keeps the compare engine-portable. One scan, no shuffle (the scale
    is a per-row array fold; transform/array_max run interpreted but
    this is a write-path op, not a probe-path one)."""
    e = load_table(spark, sf_dir, "embeddings")
    scale = F.array_max(
        F.transform(F.col("embedding"), lambda y: F.abs(y.cast("double")))
    ).cast("double")
    s = e.select("vec_id", "embedding", scale.alias("scale")).filter(F.col("scale") > 0)
    ex = s.select("vec_id", "scale", F.posexplode("embedding").alias("pos", "val"))
    return ex.select(
        "vec_id",
        "scale",
        F.col("pos").cast("int").alias("pos"),
        F.floor(F.col("val").cast("double") * 127.0 / F.col("scale") + 0.5)
        .cast("int")
        .alias("q"),
    )


@query(
    "q_llm_source_quota",
    oracle="""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    WHERE rk <= 10
    """,
)
def q_llm_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota downsampling (domain rebalancing: cap
    over-represented sources at N docs before training). Selection is
    a deterministic hash ranking — md5(doc_id) with doc_id tiebreak —
    so the kept set is reproducible and engine-portable, unlike an RNG
    sample. Partitioned window (one shuffle on source); at web scale
    source cardinality is high and the per-source groups are the skew
    risk — AQE skew handling applies, or pre-salt the pathological
    source and re-rank inside."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 10)
    )


@query(
    "q_llm_length_band",
    oracle="""
    WITH b AS (SELECT CAST(ceil(quantile_cont(n_chars, 0.05) - 1e-9) AS BIGINT) AS lo,
                      CAST(floor(quantile_cont(n_chars, 0.95) + 1e-9) AS BIGINT) AS hi
               FROM documents)
    SELECT doc_id, n_chars FROM documents, b
    WHERE n_chars >= lo AND n_chars <= hi
    """,
)
def q_llm_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile length-band filter (drop the extreme-length tails —
    truncated fragments and concatenation junk — keeping the p05..p95
    band). The band edges are exact interpolated percentiles folded in
    as a broadcast 1-row aggregate, so the whole query is one lazy
    plan: percentile agg (one pass) + filtered re-scan — the fact
    table is scanned twice but never shuffled.

    Edge robustness: n_chars is integral, so the interpolated edges are
    snapped to the integers that give the IDENTICAL band (lo→ceil,
    hi→floor) in BOTH engines — Spark's percentile and DuckDB's
    quantile_cont may differ by 1 ulp in interpolation shape, which
    could otherwise flip a row sitting exactly on an edge. The ±1e-9
    inside ceil/floor kills the symmetric case where the true edge IS
    an integer and the 1-ulp error lands on either side of it."""
    docs = load_table(spark, sf_dir, "documents")
    band = F.broadcast(
        docs.agg(
            F.ceil(F.percentile("n_chars", 0.05) - 1e-9).cast("bigint").alias("lo"),
            F.floor(F.percentile("n_chars", 0.95) + 1e-9).cast("bigint").alias("hi"),
        )
    )
    return (
        docs.crossJoin(band)
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "n_chars")
    )


#: shared 10-word-passage CTE chain (documents → (doc_id, pidx,
#: passage)) — used by the passage-dedup and intra-doc-dedup oracles so
#: their passage definitions can't drift.
_PASSAGE_CTES = f"""
    toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
    px AS (
      SELECT doc_id,
             unnest(list_transform(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT)),
                    i -> struct_pack(pidx := i,
                                     passage := array_to_string(t[i*10+1 : i*10+10], ' ')))) AS u
      FROM toks
    ),
    pass AS (SELECT doc_id, u.pidx AS pidx, u.passage AS passage FROM px)
"""


@query(
    "q_llm_passage_dedup",
    oracle=f"""
    WITH {_PASSAGE_CTES},
    freq AS (SELECT passage, count(DISTINCT doc_id) AS dfreq FROM pass GROUP BY passage),
    kept AS (SELECT p.doc_id, p.pidx, p.passage
             FROM pass p JOIN freq f USING (passage) WHERE f.dfreq <= 1),
    agg AS (SELECT doc_id,
                   string_agg(passage, ' ' ORDER BY pidx) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_total FROM pass GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_total - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
)
def q_llm_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-passage removal (C4-style line dedup over 10-word
    passages): passages occurring in >1 distinct document are dropped
    from every document, survivors reassembled in order. On the
    fixture this fires on the planted near-duplicates' shared aligned
    windows. See :func:`operators.dedup.passage_dedup` for the 100 TB
    shape (codegen passage build, digest-keyed frequency join)."""
    from kafka_streams_clojure_spark.operators.dedup import passage_dedup

    docs = load_table(spark, sf_dir, "documents")
    return passage_dedup(docs, passage_words=10, max_doc_freq=1)


@query("q_llm_passage_dedup_hashed")
def q_llm_passage_dedup_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION exchange shape of q_llm_passage_dedup
    (SCALE.md "hashed-probe passage dedup"): identical semantics, but
    the doc-frequency aggregate and probe join key on
    ``xxhash64(passage)`` — 8 bytes/row on the wire instead of the
    raw passage string, the shuffle-width cut you'd take at 100 TB.
    Rows-only BY DESIGN: DuckDB cannot reproduce Spark's xxhash64, so
    the gate is the equivalence test
    (tests/test_llm_ops.py::test_passage_dedup_hashed_matches_string_probe)
    pinning its output EQUAL to the oracle-gated string-probe twin —
    a 64-bit collision conflating two passages is ~2^-64/pair and
    would show up there first."""
    from kafka_streams_clojure_spark.operators.dedup import passage_dedup

    docs = load_table(spark, sf_dir, "documents")
    return passage_dedup(docs, passage_words=10, max_doc_freq=1, hash_key=True)


@query(
    "q_llm_incremental_dedup",
    oracle=f"""
    WITH fp AS (SELECT doc_id, lang, source,
                       md5(array_to_string(({_TOK})[1:20], ' ')) AS fp
                FROM documents),
    corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
    fresh AS (SELECT f.doc_id, f.lang, f.source, f.fp FROM fp f
              WHERE doc_id % 2 = 1
                AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = f.fp))
    SELECT doc_id, lang, source FROM fresh
    QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
    """,
)
def q_llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-delta dedup against the standing corpus: odd doc_ids play
    the new crawl snapshot, even doc_ids the already-accepted corpus;
    the content key is a 20-word-prefix fingerprint (the fuzzy key a
    crawl pipeline uses when trailing boilerplate varies). New docs
    survive iff their key is absent from the corpus AND they are the
    first (min doc_id) holder of the key within the batch. See
    :func:`operators.dedup.incremental_dedup` for the 100 TB shape
    (corpus pruned to a 16-byte digest column before the anti join)."""
    from kafka_streams_clojure_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    prefix_fp = F.md5(F.array_join(F.slice(F.split(F.col("text"), r"\s+"), 1, 20), " "))
    out = incremental_dedup(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        fp=prefix_fp,
    )
    return out.select("doc_id", "lang", "source")


@query(
    "q_llm_bloom_dedup",
    oracle="""
    WITH fp AS (SELECT doc_id, lang, source,
                       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
                FROM documents),
    corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0),
    fresh AS (SELECT f.doc_id, f.lang, f.source, f.fp FROM fp f
              WHERE doc_id % 3 <> 0
                AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = f.fp))
    SELECT doc_id, lang, source FROM fresh
    QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
    """,
)
def q_llm_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-delta dedup with a Bloom prefilter — EXACT output (the
    oracle is the plain NOT-EXISTS + keep-first semantics; the Bloom's
    false positives only cost extra exact-confirm probes, its
    no-false-negative guarantee is what keeps the output identical).
    doc_id % 3 == 0 plays the standing corpus, the rest the new crawl
    snapshot; the content key is the full-text normalized fingerprint.
    See :func:`operators.bloom.bloom_incremental_dedup` for the
    zero-big-shuffle plan (sparse (word,mask) bitmap aggregated
    map-side, k broadcast word-joins, candidates broadcast against the
    corpus scan — neither big table ever exchanges)."""
    from kafka_streams_clojure_spark.operators.bloom import bloom_incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = bloom_incremental_dedup(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
    )
    return out.select("doc_id", "lang", "source")


@query(
    "q_llm_intra_dedup",
    oracle=f"""
    WITH {_PASSAGE_CTES},
    kept AS (SELECT doc_id, pidx, passage FROM pass
             QUALIFY pidx = min(pidx) OVER (PARTITION BY doc_id, passage)),
    agg AS (SELECT doc_id,
                   string_agg(passage, ' ' ORDER BY pidx) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_total FROM pass GROUP BY doc_id)
    SELECT t.doc_id, a.clean_text,
           CAST(a.n_kept AS BIGINT)             AS n_kept,
           CAST(t.n_total - a.n_kept AS BIGINT) AS n_dropped
    FROM tot t JOIN agg a USING (doc_id)
    """,
)
def q_llm_intra_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: first occurrence of each
    10-word passage kept per doc, later repeats dropped, text
    reassembled in order. One doc-id-keyed shuffle, no cross-document
    exchange — see :func:`operators.dedup.intra_doc_dedup`."""
    from kafka_streams_clojure_spark.operators.dedup import intra_doc_dedup

    docs = load_table(spark, sf_dir, "documents")
    return intra_doc_dedup(docs, passage_words=10)


@query(
    "q_llm_refresh_curation",
    oracle=f"""
    WITH {_PASSAGE_CTES},
    kept AS (SELECT doc_id, pidx, passage FROM pass
             QUALIFY pidx = min(pidx) OVER (PARTITION BY doc_id, passage)),
    clean AS (SELECT doc_id,
                     string_agg(passage, ' ' ORDER BY pidx) AS clean_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id),
    pruned AS (SELECT c.doc_id, c.clean_text,
                      t2.n_total - c.n_kept AS n_dropped
               FROM clean c JOIN (SELECT doc_id, count(*) AS n_total
                                  FROM pass GROUP BY doc_id) t2 USING (doc_id)),
    scored AS (
      SELECT p.doc_id, p.clean_text, p.n_dropped, d.source,
             CAST((
               least(len(string_split_regex(p.clean_text, '\\s+')) / 100.0, 1.0)
               + CAST(len(list_distinct(string_split_regex(p.clean_text, '\\s+'))) AS DOUBLE)
                 / len(string_split_regex(p.clean_text, '\\s+'))
               + CASE WHEN (CAST(length(regexp_replace(p.clean_text, '\\s+', '', 'g')) AS DOUBLE)
                            / len(string_split_regex(p.clean_text, '\\s+'))) BETWEEN 3.0 AND 10.0
                      THEN 1.0 ELSE 0.5 END
             ) / 3.0 AS DOUBLE) AS quality
      FROM pruned p JOIN documents d USING (doc_id)
    ),
    good AS (SELECT * FROM scored WHERE quality >= 0.5),
    fpd AS (SELECT *, md5(array_to_string(
                    (string_split_regex(clean_text, '\\s+'))[1:20], ' ')) AS fp
            FROM good),
    corpus AS (SELECT DISTINCT fp FROM fpd WHERE doc_id % 2 = 0),
    fresh AS (SELECT f.* FROM fpd f WHERE doc_id % 2 = 1
              AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = f.fp)),
    accepted AS (SELECT * FROM fresh
                 QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp))
    SELECT source,
           count(*)                                         AS n_docs,
           {sql_davg('quality')}                            AS mean_quality,
           CAST(sum(n_dropped) AS BIGINT)                   AS passages_pruned
    FROM accepted GROUP BY source
    """,
)
def q_llm_refresh_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed CRAWL-REFRESH curation pipeline over the round-5 dedup
    family, one lazy Catalyst plan end to end:

    1. intra-document repetition removal (first occurrence per 10-word
       passage, doc-keyed shuffle only);
    2. quality gate (>= 0.5) scored on the CLEANED text;
    3. ingest-delta dedup: odd doc_ids (the new snapshot) anti-joined
       against even doc_ids (the standing corpus) on a 20-word-prefix
       fingerprint of the cleaned text, keep-first within the batch;
    4. per-source acceptance stats (count, mean quality, passages
       pruned) — the report a data-engineering run ends with.

    Stages hand off (doc_id, clean_text)-shaped frames; the corpus
    side of stage 3 is pruned to its fingerprint column before the
    anti join. Every stage's arithmetic is an already-oracle-proven
    twin, so the full composition is exact."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached
    from kafka_streams_clojure_spark.operators.dedup import (
        incremental_dedup,
        intra_doc_dedup,
    )
    from kafka_streams_clojure_spark.queries._util import davg

    docs = load_table(spark, sf_dir, "documents")
    cleaned = intra_doc_dedup(docs, passage_words=10).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    # Both halves of the delta dedup read `scored` — persist the shared
    # intra-dedup + scoring prefix (repo rule for multi-consumed
    # expensive subplans) instead of recomputing it per side.
    scored = persist_if_uncached(
        cleaned.select(
            "doc_id",
            "clean_text",
            "n_dropped",
            "source",
            TX.quality_score(F.col("clean_text")).alias("quality"),
        ).filter(F.col("quality") >= 0.5)
    )
    prefix_fp = F.md5(
        F.array_join(F.slice(F.split(F.col("clean_text"), r"\s+"), 1, 20), " ")
    )
    accepted = incremental_dedup(
        scored.filter(F.col("doc_id") % 2 == 1),
        scored.filter(F.col("doc_id") % 2 == 0),
        text_col="clean_text",
        fp=prefix_fp,
    )
    return accepted.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        davg("quality").alias("mean_quality"),
        F.sum("n_dropped").cast("bigint").alias("passages_pruned"),
    )


@query(
    "q_llm_cluster_best",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jpairs
      UNION
      SELECT id_b, id_a FROM jpairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
    scored AS (
      SELECT doc_id,
             CAST((
               least(len({_TOK}) / 100.0, 1.0)
               + CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK})
               + CASE WHEN (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                            / len({_TOK})) BETWEEN 3.0 AND 10.0
                      THEN 1.0 ELSE 0.5 END
             ) / 3.0 AS DOUBLE) AS quality
      FROM documents
    ),
    membership AS (
      SELECT s.doc_id, coalesce(c.cluster_id, s.doc_id) AS cluster_id, s.quality
      FROM scored s LEFT JOIN comp c ON s.doc_id = c.id
    )
    SELECT cluster_id,
           doc_id AS keep_id,
           quality,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM membership
    QUALIFY row_number() OVER (
      PARTITION BY cluster_id ORDER BY quality DESC, doc_id) = 1
    """,
)
def q_llm_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster-representative selection: a real pipeline
    keeps the BEST document of each near-dup cluster, not the lowest
    id. Composes the Pregel transitive closure with the quality score
    — singleton docs form their own cluster — and picks
    argmax(quality, tiebreak min doc_id) per cluster. One window over
    the cluster id after the closure; quality is the oracle-proven
    IEEE-identical twin, so even the tiebreak order matches DuckDB
    exactly."""
    from pyspark.sql import Window

    from kafka_streams_clojure_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=4, threshold=0.5)
    comp = dedup_clusters(pairs).select("doc_id", "canonical_id")
    scored = docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))
    membership = scored.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("cluster_id"),
        "quality",
    )
    w = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        membership.withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .withColumn("__rk", F.row_number().over(wr))
        .filter(F.col("__rk") == 1)
        .select(
            "cluster_id", F.col("doc_id").alias("keep_id"), "quality", "cluster_size"
        )
    )


@query(
    "q_llm_edit_distance",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, source,
             length(text) // 100          AS band,
             substring(text, 1, 60)       AS prefix
      FROM documents
      WHERE strlen(text) = length(text)  -- ASCII guard: byte-Levenshtein engines
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
    FROM base a JOIN base b
      ON a.lang = b.lang AND a.source = b.source AND a.band = b.band
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 10
    """,
)
def q_llm_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level (Levenshtein) near-dup pairs — the edit-distance
    member of the dedup family (typo/OCR/template-fill duplication that
    shingle Jaccard dilutes). Blocked on (lang, source, length band),
    distance on a 60-char prefix; ASCII-only guard on BOTH engines
    because Spark counts characters and DuckDB counts bytes. See
    operators/dedup.py:edit_distance_pairs for the 100 TB blocking
    notes."""
    from kafka_streams_clojure_spark.operators.dedup import edit_distance_pairs

    docs = load_table(spark, sf_dir, "documents")
    return edit_distance_pairs(docs).select(
        "id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist")
    )


@query(
    "q_llm_sorted_neighborhood",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             substring(lower(text), 1, 30) AS sk,
             substring(text, 1, 60)        AS prefix
      FROM documents
      WHERE strlen(text) = length(text)  -- ASCII guard (byte vs char levenshtein)
    ),
    idxed AS (
      SELECT doc_id, prefix,
             row_number() OVER (ORDER BY sk, doc_id) - 1 AS idx
      FROM base
    )
    SELECT least(a.doc_id, b.doc_id)    AS id_a,
           greatest(a.doc_id, b.doc_id) AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
    FROM idxed a JOIN idxed b
      ON b.idx > a.idx AND b.idx <= a.idx + 4
    """,
)
def q_llm_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation + edit-distance verify:
    corpus globally ordered by a lowercased 30-char prefix key, every
    pair within 5 positions scored by prefix Levenshtein — the
    record-linkage pattern for near-dups with NO equi-blockable
    attribute. Parallel global order (global_index — no single-task
    sort) + binned range join keep candidates at exactly 4·n; the
    oracle rebuilds the identical order with row_number. See
    operators/dedup.py:sorted_neighborhood_pairs."""
    from kafka_streams_clojure_spark.operators.dedup import sorted_neighborhood_pairs

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.octet_length("text") == F.length("text"))
        .select(
            "doc_id",
            F.substring(F.lower(F.col("text")), 1, 30).alias("__sk"),
            F.substring(F.col("text"), 1, 60).alias("__prefix"),
        )
    )
    pairs = sorted_neighborhood_pairs(
        docs, sort_cols=("__sk",), window=5, carry=("__prefix",)
    )
    return pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        F.levenshtein(F.col("__prefix_a"), F.col("__prefix_b"))
        .cast("int")
        .alias("edit_dist"),
    )


@query(
    "q_llm_bm25",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
    ),
    dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM toks
      WHERE token IN ('join', 'scan', 'filter')
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ((n - df + 0.5e0) / (df + 0.5e0))
               * (tf * 2.2e0)
               / (tf + 1.2e0 * (0.25e0 + 0.75e0 * (CAST(dl AS DOUBLE) / avgdl)))
               AS s
      FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN stats
    ),
    pivoted AS (
      SELECT doc_id,
             max(CASE WHEN token = 'join'   THEN s END) AS s_join,
             max(CASE WHEN token = 'scan'   THEN s END) AS s_scan,
             max(CASE WHEN token = 'filter' THEN s END) AS s_filter
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id,
           coalesce(s_join, 0.0e0) + coalesce(s_scan, 0.0e0)
             + coalesce(s_filter, 0.0e0) AS bm25
    FROM pivoted
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query (k1=1.2, b=0.75) with
    LINEAR idf — (N−df+0.5)/(df+0.5) without the ln(), the same
    libm-free trade as q_llm_tfidf_linear (per-term ranking order is
    preserved; the cross-term mix differs from log-BM25, documented).
    The float-sum-order trap is dodged structurally: per-(doc, term)
    scores are single rows, pivoted to columns with max() (exact) and
    summed in a FIXED left-to-right order — no float aggregation
    anywhere. N and avgdl are folded in-plan as a broadcast 1-row
    stats side; at 100 TB the corpus scan never moves, the tf table
    carries only query-term hits, and the top-k is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["join", "scan", "filter"]
    toks = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    s = (
        ((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / F.col("avgdl"))))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "token", s.alias("s"))
    )
    pivoted = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("token") == t, F.col("s"))).alias(f"s_{t}")
            for t in terms
        ]
    )
    total = (
        F.coalesce(F.col("s_join"), F.lit(0.0))
        + F.coalesce(F.col("s_scan"), F.lit(0.0))
        + F.coalesce(F.col("s_filter"), F.lit(0.0))
    )
    return (
        pivoted.select("doc_id", total.alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q_llm_inverted_index",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM tok GROUP BY token HAVING count(*) >= 20
    """,
)
def q_llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index construction — token → sorted posting list of
    doc ids (the core retrieval artifact BM25/tfidf serve from). One
    explode + distinct + one groupBy; posting lists ride as sorted
    arrays (comparison surface = joined string, the q_agg_collect_set
    convention; numeric sort BEFORE stringify — lexicographic '10'<'2'
    would diverge between engines). At 100 TB postings for stop-words
    explode — the df floor here doubles as the stop-token cut, and a
    production index range-partitions by token."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    ).distinct()
    postings = F.array_join(
        F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")),
        ",",
    )
    return (
        tok.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("df"), postings.alias("postings"))
        .filter(F.col("df") >= 20)
    )


@query(
    "q_llm_dedup_report",
    oracle="""
    WITH fp AS (
      SELECT source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)              AS n_docs,
           CAST(count(DISTINCT f) AS BIGINT)     AS n_unique,
           CAST(count(*) - count(DISTINCT f) AS BIGINT) AS n_dups,
           CAST(CAST(count(*) - count(DISTINCT f) AS DOUBLE)
                / count(*) AS DOUBLE)            AS dup_ratio
    FROM fp GROUP BY source
    """,
)
def q_llm_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication report — the summary table a dedup
    pipeline prints before anyone trusts its keep-list: docs, unique
    fingerprints, duplicate count and ratio per source. One scan + one
    two-phase count-distinct per group; ratios are integer/integer →
    exact parity."""
    from kafka_streams_clojure_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("source", fingerprint(F.col("text")).alias("f"))
    n_dups = F.count("*") - F.countDistinct("f")
    return fp.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("f").cast("bigint").alias("n_unique"),
        n_dups.cast("bigint").alias("n_dups"),
        (n_dups.cast("double") / F.count("*")).cast("double").alias("dup_ratio"),
    )


@query(
    "q_llm_boolean_search",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
    )
    SELECT doc_id
    FROM tok WHERE token IN ('join', 'scan', 'filter')
    GROUP BY doc_id HAVING count(*) = 3
    """,
)
def q_llm_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) boolean retrieval: documents containing ALL
    query terms — the query side of the inverted index
    (`q_llm_inverted_index` builds it; this is the postings
    intersection, expressed as the count-of-matched-distinct-terms
    idiom: one shuffle on doc_id, no N-way self-join). BM25
    (`q_llm_bm25`) ranks what this filters."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["join", "scan", "filter"]
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    ).distinct()
    return (
        tok.filter(F.col("token").isin(terms))
        .groupBy("doc_id")
        .agg(F.count("*").alias("__k"))
        .filter(F.col("__k") == len(terms))
        .select("doc_id")
    )


@query(
    "q_llm_phrase_search",
    oracle="""
    WITH t AS (
      SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS l
            FROM documents)
    )
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT)  AS n_hits,
           CAST(min(a.pos) AS BIGINT) AS first_pos
    FROM t a JOIN t b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = 'table' AND b.tok = 'hash'
    GROUP BY a.doc_id
    """,
)
def q_llm_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search ("table hash" as adjacent tokens) — the
    positional-index query single-token retrieval can't answer. Spark
    side: the 2-token :func:`operators.text.token_windows` (positions
    are free, no shuffle before the per-doc count); the oracle
    reconstructs positions with generate_subscripts (DuckDB lacks WITH
    ORDINALITY) and joins pos+1. Tokens never contain the joining
    space, so the window equals "table hash" exactly when the token is
    "table" and the next one "hash". Returns (doc_id, n_hits,
    first_pos). At scale the phrase probe runs against a stored
    positional posting list for the rarer term, not a corpus
    re-tokenization — same plan shape, indexed input."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        TX.token_windows(docs, 2)
        .filter(F.col("window") == "table hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_hits"),
            F.min(F.col("pos") + 1).cast("bigint").alias("first_pos"),
        )
    )


@query(
    "q_llm_zipf",
    oracle="""
    WITH tf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS token
            FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT token, tf,
             CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rnk
      FROM tf
    )
    SELECT rnk, token, tf, CAST(rnk * tf AS BIGINT) AS rank_freq
    FROM ranked WHERE rnk <= 50
    """,
)
def q_llm_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency table: the top-50 tokens with rank×frequency
    (≈ constant under Zipf's law — the corpus-health check a tokenizer
    team eyeballs before trusting frequency stats). The global rank
    runs on operators/order.global_index (parallel — no single-task
    window) over the full vocabulary, THEN takes the prefix; integer
    products, full tie order on (tf desc, token)."""
    from kafka_streams_clojure_spark.operators.order import global_index

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    ranked = global_index(
        tf, order_by=[F.col("tf").desc(), F.col("token")], idx_col="rnk0"
    )
    return (
        ranked.withColumn("rnk", (F.col("rnk0") + 1).cast("bigint"))
        .filter(F.col("rnk") <= 50)
        .select("rnk", "token", "tf", (F.col("rnk") * F.col("tf")).cast("bigint").alias("rank_freq"))
    )


@query(
    "q_llm_novelty",
    oracle=f"""
    WITH {_JACCARD_CTES},
    first_seen AS (
      SELECT shingle, min(doc_id) AS fdoc FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(CASE WHEN fs.fdoc = sh.doc_id THEN 1 END) AS BIGINT)
             AS n_novel,
           CAST(CAST(count(CASE WHEN fs.fdoc = sh.doc_id THEN 1 END) AS DOUBLE)
                / count(*) AS DOUBLE) AS novelty
    FROM sh JOIN first_seen fs ON sh.shingle = fs.shingle
    GROUP BY sh.doc_id
    """,
)
def q_llm_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's word-4-gram set
    never seen in any LOWER-id document — the redundancy-growth curve
    a crawl pipeline watches to decide when a source is mined out
    (novelty trending to 0 = stop crawling it). First-seen ownership
    is one min-per-shingle aggregate over the shared shingle-set
    representation (operators/dedup.shingle_sets — same codegen path
    as every Jaccard key), then a shingle equi-join back; integer
    ratios, exact."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached
    from kafka_streams_clojure_spark.operators.dedup import shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    sets = persist_if_uncached(shingle_sets(docs, "doc_id", "text", k=4))
    first_seen = sets.groupBy("shingle").agg(F.min("doc_id").alias("fdoc"))
    novel = F.count(F.when(F.col("fdoc") == F.col("doc_id"), 1))
    return (
        sets.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            novel.cast("bigint").alias("n_novel"),
            (novel.cast("double") / F.count("*")).cast("double").alias("novelty"),
        )
    )


@query(
    "q_llm_source_overlap",
    oracle="""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM documents
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def q_llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    exact-duplicate documents (normalized fingerprints) they share —
    the which-mirror-copies-which view that decides scrape-list pruning
    before any per-document dedup runs. Equi-join on the 128-bit
    fingerprint (never sources × docs), distinct (source, fp) first so
    within-source duplicates don't inflate the pair counts."""
    from kafka_streams_clojure_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("source", fingerprint(F.col("text")).alias("f")).distinct()
    a = fp.select(F.col("source").alias("src_a"), "f")
    b = fp.select(F.col("source").alias("src_b"), "f")
    return (
        a.join(b, "f")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


@query(
    "q_llm_shingle_spectrum",
    oracle=f"""
    WITH {_JACCARD_CTES},
    freq AS (
      SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY shingle
    )
    SELECT CASE WHEN df >= 10 THEN 10 ELSE df END AS df_bucket,
           CAST(count(*) AS BIGINT)               AS n_shingles,
           CAST(sum(df) AS BIGINT)                AS occurrence_mass
    FROM freq GROUP BY 1
    """,
)
def q_llm_shingle_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle frequency-of-frequencies spectrum (df buckets 1..9, 10+
    capped): how much of the corpus's 4-gram mass sits at each
    duplication level — the diagnostic that sizes `max_doc_freq`
    BEFORE running the capped Jaccard pass (the bucket where
    occurrence_mass explodes IS the boilerplate tail the stop-shingle
    cut should remove), and the count-of-count table Good-Turing
    smoothing reads. Two aggregates over the shared shingle_sets
    representation; bounded 10-row output."""
    from kafka_streams_clojure_spark.operators.dedup import shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    sets = shingle_sets(docs, "doc_id", "text", k=4)
    freq = sets.groupBy("shingle").agg(F.count("*").cast("bigint").alias("df"))
    bucket = F.when(F.col("df") >= 10, F.lit(10)).otherwise(F.col("df")).alias(
        "df_bucket"
    )
    return freq.groupBy(bucket).agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum("df").cast("bigint").alias("occurrence_mass"),
    )


def _doc_pagerank_sql(iters: int, unit: int, dn: int, dd: int) -> str:
    """Integer PageRank levels (the q_graph_pagerank trick) over the
    CAPPED near-dup pair graph — same arithmetic, different edges."""
    base = f"({(dd - dn) * unit} // ({dd} * (SELECT n FROM params)))"
    levels = []
    for i in range(1, iters + 1):
        levels.append(
            f"""r{i} AS (
      SELECT und.b AS id,
             CAST({base} + sum(({dn} * r{i - 1}.r) // ({dd} * deg.d)) AS BIGINT) AS r
      FROM und JOIN r{i - 1} ON und.a = r{i - 1}.id JOIN deg ON deg.a = und.a
      GROUP BY und.b
    )"""
        )
    sep = ",\n    "
    return f"""
    e0 AS (SELECT id_a AS a, id_b AS b FROM jpairs_c),
    und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    deg AS (SELECT a, count(*) AS d FROM und GROUP BY a),
    params AS (SELECT count(DISTINCT a) AS n FROM und),
    r0 AS (SELECT DISTINCT a AS id, {unit} // (SELECT n FROM params) AS r FROM und),
    {sep.join(levels)}
    SELECT id AS doc_id, r AS rank FROM r{iters}
    """


_DOC_PR_ITERS = 3


@query(
    "q_llm_doc_centrality",
    oracle=f"""
    WITH {_JACCARD_CAPPED_CTES},
    {_doc_pagerank_sql(_DOC_PR_ITERS, 10**12, 85, 100)}
    """,
)
def q_llm_doc_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-hub centrality: integer-exact PageRank over the
    CAPPED near-dup pair graph — the most-copied documents score
    highest, which is the audit order a curation team reviews clusters
    in (hubs first). Cross-family composition: the production Jaccard
    candidate graph (q_llm_ngram_jaccard_capped) feeding the
    operators/graph.pagerank primitive; the oracle chains both keys'
    CTE text, so neither can drift."""
    from kafka_streams_clojure_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, k=4, threshold=0.5, max_doc_freq=_STOP_SHINGLE_CAP
    )
    return pagerank(pairs, iters=_DOC_PR_ITERS).select(
        F.col("id").alias("doc_id"), "rank"
    )


@query(
    "q_llm_lang_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"{sql} AS s_{l}" for l, sql in _LANG_SQL_SCORES.items())}
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN {_BEST} <= 0 THEN 'und'
                  WHEN s_en = {_BEST} THEN 'en'
                  WHEN s_es = {_BEST} THEN 'es'
                  WHEN s_de = {_BEST} THEN 'de'
                  WHEN s_fr = {_BEST} THEN 'fr'
                  WHEN s_zh = {_BEST} THEN 'zh'
             END AS lang_pred
      FROM scored
    )
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, lang_pred
    """,
)
def q_llm_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (labeled lang × predicted lang
    counts) — the evaluation table that turns the per-doc
    q_llm_lang_id heuristic into a measurable precision/recall story
    and flags which language pairs the function-word markers confuse.
    The oracle shares the scoring constants with the per-doc key, so
    the two can't drift."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@query(
    "q_llm_vocab_coverage",
    oracle="""
    WITH tf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS token
            FROM documents)
      GROUP BY token
    ),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_types FROM tf),
    top AS (
      SELECT CAST(sum(tf) AS BIGINT) AS top_mass, CAST(count(*) AS BIGINT) AS k
      FROM (SELECT tf FROM tf ORDER BY tf DESC, token LIMIT 1000)
    )
    SELECT k AS vocab_size, n_types, n_tokens, top_mass,
           CAST(CAST(top_mass AS DOUBLE) / n_tokens AS DOUBLE) AS coverage
    FROM top CROSS JOIN tot
    """,
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: what fraction of all token occurrences the
    top-1000 types account for — the number that sizes a vocabulary /
    decides OOV policy before training a tokenizer. Top-N selection is
    TakeOrderedAndProject with the full (tf desc, token) tie order so
    the rank-1000 boundary is deterministic; all masses are integer
    sums, one double division."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    tot = tf.agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
    )
    top = (
        tf.orderBy(F.col("tf").desc(), "token")
        .limit(1000)
        .agg(
            F.sum("tf").cast("bigint").alias("top_mass"),
            F.count("*").cast("bigint").alias("k"),
        )
    )
    return top.crossJoin(F.broadcast(tot)).select(
        F.col("k").alias("vocab_size"),
        "n_types",
        "n_tokens",
        "top_mass",
        (F.col("top_mass").cast("double") / F.col("n_tokens"))
        .cast("double")
        .alias("coverage"),
    )


@query(
    "q_llm_growth_curve",
    oracle=f"""
    WITH {_JACCARD_CTES},
    first_seen AS (
      SELECT shingle, min(doc_id) AS fdoc FROM sh GROUP BY shingle
    ),
    mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS maxdoc FROM documents),
    dec AS (
      SELECT CAST(least(9, (fdoc * 10) // (maxdoc + 1)) AS INT) AS decile,
             CAST(count(*) AS BIGINT) AS new_shingles
      FROM first_seen CROSS JOIN mx
      GROUP BY 1
    )
    SELECT a.decile, a.new_shingles,
           CAST(sum(b.new_shingles) AS BIGINT) AS cum_distinct
    FROM dec a JOIN dec b ON b.decile <= a.decile
    GROUP BY a.decile, a.new_shingles
    """,
)
def q_llm_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heap's-law vocabulary growth curve: distinct 4-gram count after
    each successive tenth of the corpus (by doc id) — sublinear growth
    is healthy; a flat tail says new documents add no new content (the
    corpus-level twin of per-doc q_llm_novelty). First-seen ownership
    per shingle (one min aggregate), decile bucketing against a
    broadcast max-id row, and the 10-row cumulative as a decile
    self-join — integer arithmetic end-to-end, no global window."""
    from kafka_streams_clojure_spark.operators.dedup import shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    sets = shingle_sets(docs, "doc_id", "text", k=4)
    first_seen = sets.groupBy("shingle").agg(F.min("doc_id").alias("fdoc"))
    mx = docs.agg(F.max("doc_id").cast("bigint").alias("maxdoc"))
    dec = (
        first_seen.crossJoin(F.broadcast(mx))
        .select(
            F.least(F.lit(9), F.expr("(fdoc * 10) DIV (maxdoc + 1)"))
            .cast("int")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").cast("bigint").alias("new_shingles"))
    )
    a = dec.select(F.col("decile"), F.col("new_shingles"))
    b = dec.select(F.col("decile").alias("d2"), F.col("new_shingles").alias("ns2"))
    return (
        a.join(b, F.col("d2") <= F.col("decile"))
        .groupBy("decile", "new_shingles")
        .agg(F.sum("ns2").cast("bigint").alias("cum_distinct"))
    )


@query(
    "q_llm_token_len_dist",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
    )
    SELECT CASE WHEN length(token) >= 12 THEN 12
                ELSE CAST(length(token) AS INT) END AS len_bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM tok GROUP BY 1
    """,
)
def q_llm_token_len_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution (1..11 chars, 12+ capped) — the
    pre-tokenization diagnostic that predicts BPE merge behavior and
    catches concatenation artifacts (a fat 12+ bucket usually means
    broken whitespace). One explode + one aggregate, integer
    everything."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
    bucket = (
        F.when(F.length("token") >= 12, F.lit(12))
        .otherwise(F.length("token").cast("int"))
        .alias("len_bucket")
    )
    return tok.groupBy(bucket).agg(F.count("*").cast("bigint").alias("n"))


@query(
    "q_llm_keywords",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS token FROM documents),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, token),
    dfv AS (SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY token HAVING count(*) >= 2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    sc AS (
      SELECT doc_id, token, tf, df,
             tf * (CAST(n_docs AS DOUBLE) / df) AS score,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY tf * (CAST(n_docs AS DOUBLE) / df) DESC, token
             ) AS rnk
      FROM tf JOIN dfv USING (token), tot
    )
    SELECT doc_id, rnk, token, tf, df, score FROM sc WHERE rnk <= 3
    """,
)
def q_llm_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 tokens by LINEAR
    tf·(N/df) — the q_llm_tfidf_linear scorer turned into the
    keyword-tagging artifact (search facets, topic routing, cluster
    labels). A df ≥ 2 floor drops hapax noise (single-doc typos score
    as infinite-idf 'keywords' otherwise); the rank window is
    PARTITIONED by doc_id with a (score DESC, token) total order, and
    every score is exact (integer tf × one exact double division) so
    the cross-engine ordering has no float ambiguity. Scale: same
    single explode+shuffle as tfidf_linear, then a per-doc window —
    WindowGroupLimit prunes to 3 rows per doc before the final
    exchange."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    docs = load_table(spark, sf_dir, "documents")
    n_docs = F.broadcast(docs.agg(F.count("*").cast("bigint").alias("_n_docs")))
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    tf = persist_if_uncached(
        tok.groupBy("doc_id", "token").agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfv = tf.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df")
    ).filter(F.col("df") >= 2)
    score = F.col("tf") * (F.col("_n_docs").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("token"))
    return (
        tf.join(dfv, "token")
        .crossJoin(n_docs)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "token", "tf", "df", score.alias("score"))
    )


@query(
    "q_llm_readability",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(len({_TOK}) AS BIGINT) AS words,
             CAST(greatest(len(string_split_regex(text, '[.!?]+')) - 1, 1)
                  AS BIGINT) AS sentences,
             CAST(len(string_split_regex(text, '[aeiouyAEIOUY]+')) - 1
                  AS BIGINT) AS vowel_groups
      FROM documents
    )
    SELECT doc_id, lang, words, sentences, vowel_groups,
           CAST(206.835e0
                - 1.015e0 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
                - 84.6e0 * (CAST(vowel_groups AS DOUBLE) / CAST(words AS DOUBLE))
                AS DOUBLE) AS flesch
    FROM m WHERE words > 0
    """,
)
def q_llm_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability score per document — the classic
    curation quality signal (too-hard and too-trivial text both get
    filtered before pretraining). Syllables are approximated by VOWEL
    GROUPS (maximal [aeiouy]+ runs — the standard heuristic; both
    engines count them as regex-split pieces minus one, verified to
    agree including trailing-separator empties), sentences by [.!?]+
    runs with a floor of 1. The score is one per-row double tree over
    integer counts with e-notation float constants (the CLAUDE.md
    decimal-literal rule). Map-side only: one scan, zero shuffles —
    at 100 TB this is a pure codegen projection."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    words = F.size(TX.tokens(t)).cast("bigint")
    sentences = F.greatest(
        (F.size(F.split(t, "[.!?]+")) - 1).cast("bigint"), F.lit(1).cast("bigint")
    )
    vg = (F.size(F.split(t, "[aeiouyAEIOUY]+")) - 1).cast("bigint")
    m = docs.select(
        "doc_id", "lang",
        words.alias("words"),
        sentences.alias("sentences"),
        vg.alias("vowel_groups"),
    ).filter(F.col("words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words").cast("double") / F.col("sentences").cast("double"))
        - F.lit(84.6) * (F.col("vowel_groups").cast("double") / F.col("words").cast("double"))
    ).cast("double")
    return m.select(
        "doc_id", "lang", "words", "sentences", "vowel_groups",
        flesch.alias("flesch"),
    )


_MMR_COS = (
    "list_sum(list_transform(range(1, 65),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a},"
    " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b},"
    " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
)


def _mmr_oracle(k_pool: int = 20, k_out: int = 5) -> str:
    """Unroll the greedy MMR trajectory as CTE levels (the
    q_graph_pagerank fixed-iteration idiom): step k's candidate scores
    reference the union of steps 1..k-1. Weights are e-notation float
    literals (0.7e0/0.3e0) matching the Spark side's explicit lam/mu."""
    cos_pool = _MMR_COS.format(a="e.embedding", b="p.pv")
    cos_ab = _MMR_COS.format(a="a.embedding", b="b.embedding")
    ctes = [
        f"""pool AS (
      SELECT vec_id, embedding, rel FROM (
        SELECT e.vec_id, e.embedding, {cos_pool} AS rel
        FROM embeddings e,
             (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0) p
      ) ORDER BY rel DESC, vec_id LIMIT {k_pool}
    )""",
        f"""sims AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, {cos_ab} AS s
      FROM pool a, pool b
    )""",
        "s1 AS (SELECT vec_id, rel FROM pool ORDER BY rel DESC, vec_id LIMIT 1)",
    ]
    sel = "SELECT vec_id FROM s1"
    for k in range(2, k_out + 1):
        ctes.append(
            f"""c{k} AS (
      SELECT p.vec_id, p.rel, max(s.s) AS ms
      FROM pool p JOIN sims s ON s.ia = p.vec_id
      WHERE s.ib IN ({sel}) AND p.vec_id NOT IN ({sel})
      GROUP BY p.vec_id, p.rel
    )"""
        )
        ctes.append(
            f"s{k} AS (SELECT vec_id, rel FROM c{k} "
            f"ORDER BY 0.7e0*rel - 0.3e0*ms DESC, vec_id LIMIT 1)"
        )
        sel += f" UNION ALL SELECT vec_id FROM s{k}"
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS rank, vec_id, rel FROM s{k}"
        for k in range(1, k_out + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + finals


@query("q_llm_mmr", oracle=_mmr_oracle())
def q_llm_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified similarity search: Maximal Marginal Relevance over
    the exact cosine top-20 pool for probe vec_id=0, greedily emitting
    5 results that balance relevance against redundancy (λ=0.7 /
    μ=0.3) — the re-rank that stops a retrieval slice (or a
    training-data sampler) from returning five near-copies. The whole
    greedy trajectory is deterministic — left-to-right cosine folds,
    order-independent max, id tiebreaks at every argmax — so the
    oracle UNROLLS it as CTE levels (the pagerank fixed-iteration
    idiom). Corpus cost = one exact top-k scan; the greedy runs
    entirely on ≤20-row persisted intermediates in-plan."""
    from kafka_streams_clojure_spark.operators.similarity import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_topk(emb, emb.filter(F.col("vec_id") == 0), k_pool=20, k_out=5)


@query(
    "q_llm_fertility",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT)                    AS n_docs,
           CAST(sum(length(text)) AS BIGINT)           AS n_chars,
           CAST(sum(len({_TOK})) AS BIGINT)            AS n_tokens,
           CAST(CAST(sum(length(text)) AS BIGINT) AS DOUBLE)
             / CAST(sum(len({_TOK})) AS BIGINT)        AS chars_per_token
    FROM documents GROUP BY lang
    """,
)
def q_llm_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: characters per
    whitespace-token — the vocabulary-sizing number that predicts how
    many subword pieces each language will fragment into (high
    fertility → more BPE merges needed / higher serving cost). Two
    integer sums per language and one double division; map-side fold,
    one tiny shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.sum(F.size(TX.tokens(F.col("text")))).cast("bigint").alias("n_tokens"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_chars",
        "n_tokens",
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias(
            "chars_per_token"
        ),
    )


@query(
    "q_llm_char_trigrams",
    oracle="""
    WITH pos AS (
      SELECT lang, unnest(generate_series(1, length(text) - 2)) AS p, text
      FROM documents WHERE length(text) >= 3
    ),
    tg AS (
      SELECT lang, substring(text, p, 3) AS trigram,
             CAST(count(*) AS BIGINT) AS n
      FROM pos GROUP BY 1, 2
    ),
    r AS (
      SELECT lang, trigram, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, trigram) AS rnk
      FROM tg
    )
    SELECT lang, rnk, trigram, n FROM r WHERE rnk <= 20
    """,
)
def q_llm_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram profile (top-20): the feature
    table a statistical language identifier trains on — and a
    mojibake/encoding-corruption detector (a corrupted source's
    trigram profile drifts instantly). CHARACTER-based substring on
    both engines (verified against the zh fixture docs — byte-based
    slicing would shear multibyte codepoints); position explode via
    inclusive sequence/generate_series, rank window PARTITIONED by
    lang with full (count DESC, trigram) tie order. Scale: the explode
    is ∝ corpus characters but collapses immediately into the
    (lang, trigram) aggregate; WindowGroupLimit prunes to 20 per
    lang."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    pos = docs.select(
        "lang",
        "text",
        F.explode(F.expr("sequence(1, length(text) - 2)")).alias("p"),
    )
    tg = pos.select(
        "lang", F.expr("substring(text, p, 3)").alias("trigram")
    ).groupBy("lang", "trigram").agg(F.count("*").cast("bigint").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("trigram"))
    return (
        tg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("lang", "rnk", "trigram", "n")
    )


@query(
    "q_llm_k_anonymity",
    oracle="""
    WITH q AS (
      SELECT lang, source, n_chars // 500 AS len_band FROM documents
    ),
    g AS (
      SELECT lang, source, len_band, CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT)                           AS n_groups,
           CAST(count(*) FILTER (WHERE n < 5) AS BIGINT)      AS risky_groups,
           CAST(coalesce(sum(n) FILTER (WHERE n < 5), 0)
                AS BIGINT)                                    AS risky_docs,
           CAST(min(n) AS BIGINT)                             AS min_group_size
    FROM g
    """,
)
def q_llm_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (lang, source, 500-char length band): how many equivalence classes
    fall below k=5 members and how many documents sit in them — the
    re-identification risk report a privacy review asks for before a
    corpus ships (the scrub key masks direct identifiers; this
    measures the INDIRECT ones). Two integer aggregations, bounded
    output; at 100 TB the QI grouping is one map-side-combined
    shuffle on a low-cardinality composite key."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "lang", "source", F.expr("n_chars div 500").alias("len_band")
    ).groupBy("lang", "source", "len_band").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count(F.when(F.col("n") < 5, 1)).cast("bigint").alias("risky_groups"),
        F.coalesce(F.sum(F.when(F.col("n") < 5, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("risky_docs"),
        F.min("n").cast("bigint").alias("min_group_size"),
    )


@query(
    "q_llm_dim_stats",
    oracle=f"""
    WITH ex AS ({_SQL_EMB_EXPLODED})
    SELECT dim,
           CAST(count(x) AS BIGINT)     AS n,
           {_SQL_F32_MEAN}              AS mean_x,
           CAST(min(x) AS DOUBLE)       AS min_x,
           CAST(max(x) AS DOUBLE)       AS max_x,
           CAST(CAST(count(x) FILTER (WHERE abs(CAST(x AS DOUBLE)) < 1e-2)
                     AS BIGINT) AS DOUBLE) / count(x) AS near_zero_frac
    FROM ex GROUP BY dim
    """,
)
def q_llm_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding statistics (the feature-drift /
    dead-dimension monitor an embedding pipeline alarms on: a mean
    that shifts, a dimension that collapses to near-zero, a range
    that explodes): mean via the tie-guarded DECIMAL(28,8) f32-mean
    (the label_centroids discipline, global rather than per-label),
    min/max are exact order statistics, near-zero fraction is an
    integer ratio over an exact double comparison. One posexplode →
    one (dim)-keyed two-phase aggregate; 64-row output."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "x"))
    return ex.groupBy("dim").agg(
        F.count("x").cast("bigint").alias("n"),
        _f32_mean().alias("mean_x"),
        F.min("x").cast("double").alias("min_x"),
        F.max("x").cast("double").alias("max_x"),
        (
            F.count(F.when(F.abs(F.col("x").cast("double")) < 1e-2, 1))
            .cast("bigint")
            .cast("double")
            / F.count("x")
        ).alias("near_zero_frac"),
    )


_PAIR_H = (
    "md5(CAST({a} AS VARCHAR) || '-' || CAST({d} AS VARCHAR))"
)


@query(
    "q_llm_negative_pairs",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, {_SQL_BUCKET} AS bucket FROM documents
    ),
    bt AS (SELECT doc_id, {_TOK} AS t FROM b WHERE bucket < 5),
    tt AS (SELECT doc_id, {_TOK} AS t FROM b WHERE bucket >= 5),
    bsh AS (SELECT DISTINCT shingle FROM ({_sh_unnest('bt')})),
    tsh AS ({_sh_unnest('tt')}),
    dirty AS (SELECT DISTINCT doc_id FROM tsh JOIN bsh USING (shingle)),
    clean AS (
      SELECT doc_id FROM b
      WHERE bucket >= 5 AND doc_id NOT IN (SELECT doc_id FROM dirty)
    ),
    pairs AS (
      SELECT a.doc_id AS anchor_id, c.doc_id AS neg_id,
             {_PAIR_H.format(a='a.doc_id', d='c.doc_id')} AS h
      FROM (SELECT doc_id FROM b WHERE bucket < 5) a, clean c
      WHERE CAST(('0x' || substr(
                   {_PAIR_H.format(a='a.doc_id', d='c.doc_id')}, 1, 8))
                 AS BIGINT) % 100 < 20
    )
    SELECT anchor_id, neg_id, rnk FROM (
      SELECT anchor_id, neg_id,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY h, neg_id) AS rnk
      FROM pairs
    ) WHERE rnk <= 3
    """,
)
def q_llm_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive NEGATIVE-PAIR construction: for every anchor doc
    (the md5-bucket eval slice — the split shared with
    q_llm_decontaminate so the definitions can't drift), pick 3
    negatives RNG-free from documents guaranteed to share no word
    4-gram with ANY anchor (the decontaminate probe inverted: clean
    docs only — no textual leakage into the negatives). Pair choice
    is a deterministic hash ranking: candidates are first CUT to the
    md5(anchor-doc) bucket < 20% — the pushdown that keeps the
    anchors×corpus pairing bounded at scale — then row_number'd per
    anchor over (hash, id). Anchor side broadcasts (eval slices are
    tiny by definition, the decontaminate scale argument); the corpus
    shuffles only for its own shingle probe."""
    from kafka_streams_clojure_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    b = docs.select("doc_id", "text", _bucket().alias("bucket"))
    anchors = b.filter(F.col("bucket") < 5).select("doc_id")
    train = b.filter(F.col("bucket") >= 5)
    dirty = decontaminate(
        train.select("doc_id", "text"), docs.join(anchors, "doc_id")
    ).select("doc_id")
    clean = train.select("doc_id").join(dirty, "doc_id", "left_anti")
    a = anchors.select(F.col("doc_id").alias("anchor_id"))
    c = clean.select(F.col("doc_id").alias("neg_id"))
    h = F.md5(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit("-"),
            F.col("neg_id").cast("string"),
        )
    )
    pairs = (
        c.crossJoin(F.broadcast(a))
        .withColumn("h", h)
        .filter(
            F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("bigint") % 100
            < 20
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "neg_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("anchor_id", "neg_id", "rnk")
    )


@query(
    "q_error_dead_letter",
    oracle="""
    SELECT event_id, 'poison record' AS error
    FROM events WHERE event_type = 'error'
    """,
)
def q_error_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEAD-LETTER channel of the per-record error contract: the
    same poison-raising transform as q_error_swallow run through
    operators/errors.dlq_map_in_pandas, keeping FAILED records as
    (id, error-message) data instead of dropping them — one pass
    yields both channels; this key reads the DLQ side (the swallow
    key's oracle is the complement, so together they prove the router
    partitions exactly). The reference prints-and-drops
    (api.clj:21-24); a production topology triages."""
    import pandas as pd

    from kafka_streams_clojure_spark.operators.errors import dlq_map_in_pandas

    def double_or_die(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["event_type"] == "error").any():
            raise ValueError("poison record")
        out = pdf[["event_id"]].copy()
        out["doubled"] = pdf["value"] * 2.0
        return out

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    routed = dlq_map_in_pandas(
        ev, double_or_die, schema="event_id long, doubled double", id_col="event_id"
    )
    return routed.filter(F.col("__error").isNotNull()).select(
        "event_id", F.col("__error").alias("error")
    )


@query(
    "q_llm_positive_pairs",
    oracle=f"""
    WITH {_JACCARD_CTES},
    sym AS (
      SELECT id_a AS anchor_id, id_b AS pos_id, jaccard FROM jpairs
      UNION ALL
      SELECT id_b, id_a, jaccard FROM jpairs
    )
    SELECT anchor_id, pos_id, jaccard, rnk FROM (
      SELECT anchor_id, pos_id, jaccard,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY jaccard DESC, pos_id) AS rnk
      FROM sym
    ) WHERE rnk <= 2
    """,
)
def q_llm_positive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive POSITIVE-pair construction — the twin of
    q_llm_negative_pairs: for every document that has near-dups, its
    top-2 partners by word-4-gram Jaccard (the natural positives a
    contrastive embedding trainer pairs with the hash-ranked
    negatives). Built on the SAME shared Jaccard CTE chain as the
    pair/cluster keys so the pair definition cannot drift; the pair
    table is symmetrized (each side anchors) and ranked per anchor
    with a (jaccard DESC, id) total order — scores are exact integer
    ratios, so the rank is float-unambiguous."""
    from kafka_streams_clojure_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=4, threshold=0.5)
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("pos_id"),
        "jaccard",
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("pos_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("jaccard").desc(), F.col("pos_id")
    )
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("anchor_id", "pos_id", "jaccard", "rnk")
    )


#: row-digest text shared by the checksum key's two engines: a pipe
#: joined rendering of INTEGER/STRING-safe columns (doubles and raw
#: timestamps are excluded — their string renderings are not
#: engine-portable; timestamps enter as exact epoch-µs integers)
_CKSUM_ROW = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' || o_orderpriority"
)


@query(
    "q_util_table_checksum",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5({_CKSUM_ROW}
                    || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR)), 1, 15))
                   AS BIGINT)) AS checksum
    FROM orders
    """,
)
def q_util_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent TABLE CONTENT CHECKSUM: bit-XOR of per-row
    md5-derived 60-bit integers — the migration/replication validation
    primitive (same engine, different cluster, different file layout →
    same checksum iff same row multiset up to XOR-collisions of exact
    duplicate rows). XOR is commutative/associative and cannot
    overflow, so partial aggregation order is irrelevant — no decimal
    discipline needed. Row rendering uses only engine-portable
    scalars: integers/strings verbatim, timestamps as exact epoch-µs
    (raw double/timestamp string formats differ across engines —
    the reason generic `hash()` checksums are not portable). One scan,
    one 2-column fold."""
    o = load_table(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).cast("string"),
    )
    digest = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("bigint")
    return o.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.bit_xor(digest).alias("checksum"),
    )


@query(
    "q_llm_sentence_stats",
    oracle="""
    WITH s AS (
      SELECT lang, trim(unnest(string_split_regex(text, '[.!?]+'))) AS sent
      FROM documents
    ),
    w AS (
      SELECT lang,
             len(string_split_regex(sent, '\\s+')) AS n_words
      FROM s WHERE sent <> ''
    )
    SELECT lang,
           CASE WHEN n_words <= 5 THEN '01-5' WHEN n_words <= 10 THEN '06-10'
                WHEN n_words <= 20 THEN '11-20' ELSE '21+' END AS band,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(n_words) AS BIGINT) AS n_words
    FROM w GROUP BY 1, 2
    """,
)
def q_llm_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Words-per-SENTENCE distribution by language: the syntactic-
    complexity profile under the Flesch score (q_llm_readability uses
    the corpus-level ratio; this shows the shape — a spike in the 21+
    band flags run-on boilerplate, a 1-5 spike flags listicle/menu
    scrape junk). Sentence split parity ([.!?]+ runs, trimmed,
    empties dropped) was verified across engines including trailing
    separators; banding is explicit CASE thresholds. Map-side explode
    collapsing straight into a (lang, band) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select(
            "lang", F.explode(F.split(F.col("text"), "[.!?]+")).alias("raw")
        )
        .select("lang", F.trim(F.col("raw")).alias("sent"))
        .filter(F.col("sent") != "")
    )
    w = s.select("lang", F.size(F.split(F.col("sent"), r"\s+")).alias("n_words"))
    band = (
        F.when(F.col("n_words") <= 5, "01-5")
        .when(F.col("n_words") <= 10, "06-10")
        .when(F.col("n_words") <= 20, "11-20")
        .otherwise("21+")
    )
    return w.groupBy("lang", band.alias("band")).agg(
        F.count("*").cast("bigint").alias("n_sentences"),
        F.sum("n_words").cast("bigint").alias("n_words"),
    )


#: Negative-candidate bucket count. The candidate cut is DECOMPOSABLE:
#: each doc hashes to ONE of `_NEG_B` buckets (a function of doc_id
#: alone), each anchor probes ONE deterministic bucket (a function of
#: anchor_id alone, salted so it is independent of the anchor's own
#: doc bucket), and candidates are the bucket EQUI-join — density 1/B,
#: the same 20% the old pair-hash cut gave, but materialized by a
#: shuffled hash join with both sides pruned instead of an
#: anchors×corpus nested-loop enumeration (the r5 verdict's
#: scale-killer: the pair hash needed both sides, so the filter could
#: never push below the join and the BNLJ enumerated |docs|×|anchors|
#: candidates). At 100 TB raise B ∝ corpus size to hold the per-anchor
#: candidate count constant; compute is O(|docs|·|anchors|/B).
#: md5-of-string, not xxhash64: DuckDB cannot reproduce Spark's
#: xxhash64, while md5 parity is already load-bearing (`_PAIR_H`).
_NEG_B = 5

_SQL_NEG_BUCKET = (
    "CAST(('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 8)) AS BIGINT)"
    f" % {_NEG_B}"
)
_SQL_PROBE_BUCKET = (
    "CAST(('0x' || substr(md5(CAST({id} AS VARCHAR) || '#probe'), 1, 8))"
    f" AS BIGINT) % {_NEG_B}"
)


def _neg_bucket(col, salt: str | None = None, b=None):
    """Spark twin of `_SQL_NEG_BUCKET` / `_SQL_PROBE_BUCKET`.
    ``b`` overrides the bucket-count modulus (a Column for the
    corpus-derived B∝N form); default is the fixed `_NEG_B`."""
    s = col.cast("string") if salt is None else F.concat(
        col.cast("string"), F.lit(salt)
    )
    bb = F.lit(_NEG_B).cast("bigint") if b is None else b
    return (
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint") % bb
    )


def _neg_candidates(docs: DataFrame, anchors: DataFrame,
                    shared: DataFrame, b_df: DataFrame | None = None) -> DataFrame:
    """Shingle-clean negative candidates for every anchor via the
    decomposable bucket equi-join (see `_NEG_B`): docs bucketed by
    md5(doc_id), anchors probing md5(anchor_id‖'#probe'), joined on
    the bucket id, self-pairs dropped, then the shared-shingle
    anti-join. Returns (anchor_id, neg_id, h) with h the pair hash
    used only for deterministic RANKING, never as a filter.

    ``b_df``: optional broadcast 1-row frame carrying the bucket count
    as ``__b`` — the B∝N form (q_llm_triplets_scaled): B derived from
    corpus size IN-PLAN, no driver round-trip."""
    bcol = None
    if b_df is not None:
        b_df = F.broadcast(b_df)
        docs = docs.crossJoin(b_df)
        anchors = anchors.crossJoin(b_df)
        bcol = F.col("__b")
    dbuck = docs.select(
        F.col("doc_id").alias("neg_id"),
        _neg_bucket(F.col("doc_id"), b=bcol).alias("nb"),
    )
    abuck = anchors.select(
        "anchor_id", _neg_bucket(F.col("anchor_id"), "#probe", b=bcol).alias("nb")
    )
    h = F.md5(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit("-"),
            F.col("neg_id").cast("string"),
        )
    )
    return (
        abuck.join(dbuck, "nb")
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .withColumn("h", h)
        .join(shared, ["anchor_id", "neg_id"], "left_anti")
        .select("anchor_id", "neg_id", "h")
    )


#: Triplet CTE chain + final select, shared by q_llm_triplets and the
#: embedding-eval key so the mined set cannot drift between them.
_TRIPLET_CTES = f"""{_JACCARD_CTES},
    sym AS (
      SELECT id_a AS anchor_id, id_b AS pos_id, jaccard FROM jpairs
      UNION ALL
      SELECT id_b, id_a, jaccard FROM jpairs
    ),
    pos AS (
      SELECT anchor_id, pos_id FROM (
        SELECT anchor_id, pos_id,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY jaccard DESC, pos_id) AS rnk
        FROM sym
      ) WHERE rnk = 1
    ),
    anchors AS (SELECT DISTINCT anchor_id FROM sym),
    ash AS (
      SELECT a.anchor_id, s.shingle
      FROM anchors a JOIN sh s ON s.doc_id = a.anchor_id
    ),
    shared AS (
      SELECT DISTINCT ash.anchor_id, s2.doc_id AS other_id
      FROM ash JOIN sh s2 USING (shingle)
    ),
    dbuck AS (
      SELECT doc_id, {_SQL_NEG_BUCKET.format(id='doc_id')} AS nb
      FROM documents
    ),
    abuck AS (
      SELECT anchor_id, {_SQL_PROBE_BUCKET.format(id='anchor_id')} AS nb
      FROM anchors
    ),
    cand AS (
      SELECT a.anchor_id, d.doc_id AS neg_id,
             {_PAIR_H.format(a='a.anchor_id', d='d.doc_id')} AS h
      FROM abuck a JOIN dbuck d USING (nb)
      WHERE d.doc_id <> a.anchor_id
        AND NOT EXISTS (
          SELECT 1 FROM shared
          WHERE shared.anchor_id = a.anchor_id AND shared.other_id = d.doc_id
        )
    ),
    neg AS (
      SELECT anchor_id, neg_id,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY h, neg_id) AS neg_rnk
      FROM cand
    )"""

_TRIPLET_SELECT = """SELECT p.anchor_id, p.pos_id, n.neg_id, n.neg_rnk
    FROM pos p JOIN neg n USING (anchor_id)
    WHERE n.neg_rnk <= 2"""


@query(
    "q_llm_triplets",
    oracle=f"""
    WITH {_TRIPLET_CTES}
    {_TRIPLET_SELECT}
    """,
)
def q_llm_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET MINING for contrastive embedding training: for every
    document that has a near-dup, emit (anchor, its top near-dup as
    POSITIVE, 2 hash-ranked NEGATIVES guaranteed to share no word
    4-gram with THAT anchor) — the (a, a⁺, a⁻) batch shape contrastive
    losses consume, assembled entirely from the engine's exact
    machinery: positives from the shared Jaccard CTE chain, per-anchor
    negative cleanliness from the shingle table itself (a shared-
    shingle anti-probe, never a text comparison), the candidate space
    cut to a 1/`_NEG_B` slice by the DECOMPOSABLE bucket equi-join
    (`_neg_candidates`) — no anchors×corpus nested loop anywhere in
    the plan. Everything RNG-free: the triplet set is a pure function
    of the corpus."""
    return _mine_triplets(spark, sf_dir)


def _mine_triplets(
    spark: SparkSession, sf_dir: str, b_df: DataFrame | None = None
) -> DataFrame:
    """Shared triplet-mining plan for q_llm_triplets (fixed `_NEG_B`)
    and q_llm_triplets_scaled (``b_df`` = in-plan corpus-derived B)."""
    from kafka_streams_clojure_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_sets,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=4, threshold=0.5)
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("pos_id"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("anchor_id"), F.col("id_a").alias("pos_id"), "jaccard"
        )
    )
    wp = Window.partitionBy("anchor_id").orderBy(
        F.col("jaccard").desc(), F.col("pos_id")
    )
    pos = (
        sym.withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") == 1)
        .select("anchor_id", "pos_id")
    )
    # r12: anchors feeds BOTH the shingle semi-join (ash) and the
    # negative-candidate probe (abuck) — persist the tiny distinct so
    # the union+distinct over the pair table runs once, not per branch
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    anchors = persist_if_uncached(sym.select("anchor_id").distinct())
    sh = shingle_sets(docs, k=4).select("doc_id", "shingle")
    ash = sh.join(
        anchors.select(F.col("anchor_id").alias("doc_id")), "doc_id"
    ).select(F.col("doc_id").alias("anchor_id"), "shingle")
    shared = (
        ash.join(sh, "shingle")
        .select("anchor_id", F.col("doc_id").alias("neg_id"))
        .distinct()
    )
    cand = _neg_candidates(docs, anchors, shared, b_df=b_df)
    wn = Window.partitionBy("anchor_id").orderBy("h", "neg_id")
    neg = (
        cand.withColumn("neg_rnk", F.row_number().over(wn))
        .filter(F.col("neg_rnk") <= 2)
        .select("anchor_id", "neg_id", "neg_rnk")
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id", "pos_id", "neg_id", "neg_rnk"
    )


#: In-plan corpus-size bucket count for the B∝N triplet key: one
#: bucket per 100 docs, exact integer arithmetic ((n+99) DIV 100 —
#: never float ceil) so both engines derive the identical B. At the
#: fixtures: 500 docs → B=5 (the fixed key's value, so the two keys
#: coincide at sf0.001/sf0.01) and 5000 docs → B=50 (the setting the
#: sf~1 rehearsal measured LINEAR, vs 70× quadratic growth at fixed
#: B — SCALE.md "Triplet mining").
_B_DYN_SQL = "(SELECT (count(*) + 99) // 100 FROM documents)"

#: The scaled oracle is the SHARED chain with both bucket moduli
#: swapped from the literal to the corpus-derived scalar subquery.
assert _TRIPLET_CTES.count(f"% {_NEG_B}") == 2, "bucket moduli drifted"
_TRIPLET_CTES_SCALED = _TRIPLET_CTES.replace(f"% {_NEG_B}", f"% {_B_DYN_SQL}")


@query(
    "q_llm_triplets_scaled",
    oracle=f"""
    WITH {_TRIPLET_CTES_SCALED}
    {_TRIPLET_SELECT}
    """,
)
def q_llm_triplets_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_llm_triplets with the bucket count derived FROM THE CORPUS
    IN-PLAN (r6 verdict #4): B = (|docs|+99) DIV 100, computed as a
    broadcast 1-row aggregate crossed onto both bucket projections —
    no driver round-trip, no baked literal. This is the form the sf~1
    rehearsal proved linear (B ∝ N holds per-anchor candidates
    constant; fixed B=5 grew 70× at 10× docs — SCALE.md); the fixed-B
    key stays registered as the rehearsal's control. Same decomposable
    md5-bucket equi-join plan (zero NestedLoop, pinned with the other
    triplet keys in tests/test_plan_shape.py); the oracle computes the
    identical B via a scalar subquery, so the key is exact-gated at
    every SF even as B changes with corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    b_df = docs.agg(F.count("*").alias("__n")).select(
        F.expr("CAST((__n + 99) DIV 100 AS BIGINT)").alias("__b")
    )
    return _mine_triplets(spark, sf_dir, b_df=b_df)


@query(
    "q_llm_triplet_eval",
    oracle=f"""
    WITH {_TRIPLET_CTES},
    trip AS ({_TRIPLET_SELECT})
    SELECT t.anchor_id, t.neg_rnk,
           {_MMR_COS.format(a='a.embedding', b='p.embedding')} AS cos_pos,
           {_MMR_COS.format(a='a.embedding', b='n2.embedding')} AS cos_neg,
           {_MMR_COS.format(a='a.embedding', b='p.embedding')}
             - {_MMR_COS.format(a='a.embedding', b='n2.embedding')} AS margin,
           {_MMR_COS.format(a='a.embedding', b='p.embedding')}
             > {_MMR_COS.format(a='a.embedding', b='n2.embedding')} AS correct
    FROM trip t
    JOIN embeddings a  ON a.vec_id  = t.anchor_id
    JOIN embeddings p  ON p.vec_id  = t.pos_id
    JOIN embeddings n2 ON n2.vec_id = t.neg_id
    """,
)
def q_llm_triplet_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET ACCURACY: score the mined (anchor, positive, negative)
    triplets against the embedding space — is cos(a, a⁺) > cos(a, a⁻)
    for text-mined pairs? The cross-modal sanity loop of a curation
    pipeline: if the embedding disagrees with textual near-dup
    structure, one of them is broken. The triplet set comes from the
    SHARED CTE chain (cannot drift from q_llm_triplets); cosines are
    the exact left-to-right folds, so per-triplet margins — and even
    the boolean — are bit-identical across engines. Fixture doc_ids
    and vec_ids share one id space (0..N-1, both tables), which is
    what makes the join meaningful. Three joins against the
    embeddings table, all on the tiny triplet side."""
    trip = q_llm_triplets(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("va"))
    pv = emb.select(F.col("vec_id").alias("pos_id"), F.col("embedding").alias("vp"))
    nv = emb.select(F.col("vec_id").alias("neg_id"), F.col("embedding").alias("vn"))
    j = trip.join(a, "anchor_id").join(pv, "pos_id").join(nv, "neg_id")
    cp = cosine(F.col("va"), F.col("vp"))
    cn = cosine(F.col("va"), F.col("vn"))
    return j.select(
        "anchor_id",
        "neg_rnk",
        cp.alias("cos_pos"),
        cn.alias("cos_neg"),
        (cp - cn).alias("margin"),
        (cp > cn).alias("correct"),
    )


@query(
    "q_llm_hard_negatives",
    oracle=f"""
    WITH {_TRIPLET_CTES},
    scored AS (
      SELECT c.anchor_id, c.neg_id,
             {_MMR_COS.format(a='a.embedding', b='n2.embedding')} AS cos_sim
      FROM cand c
      JOIN embeddings a  ON a.vec_id  = c.anchor_id
      JOIN embeddings n2 ON n2.vec_id = c.neg_id
    )
    SELECT anchor_id, neg_id, cos_sim, rnk FROM (
      SELECT anchor_id, neg_id, cos_sim,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos_sim DESC, neg_id) AS rnk
      FROM scored
    ) WHERE rnk <= 2
    """,
)
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-negative mining: among each anchor's shingle-clean
    candidates (the q_llm_triplets `cand` set — textually guaranteed
    non-duplicates), pick the 2 CLOSEST in embedding space — the
    negatives that actually teach a contrastive model something
    (random negatives are trivially separable; hard ones sit near the
    decision boundary while provably not being textual dups).
    Candidates were already cut to the 1/`_NEG_B` bucket slice by the
    decomposable equi-join before any cosine is computed (the cost
    pushdown ordering matters: bucket join → cosine, never the
    reverse); scoring is the exact fold, ranks tie-broken by id.
    Re-uses the shared triplet CTE chain verbatim."""
    from kafka_streams_clojure_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_sets,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=4, threshold=0.5)
    sym = pairs.select(F.col("id_a").alias("anchor_id")).unionAll(
        pairs.select(F.col("id_b").alias("anchor_id"))
    )
    anchors = sym.distinct()
    sh = shingle_sets(docs, k=4).select("doc_id", "shingle")
    ash = sh.join(
        anchors.select(F.col("anchor_id").alias("doc_id")), "doc_id"
    ).select(F.col("doc_id").alias("anchor_id"), "shingle")
    shared = (
        ash.join(sh, "shingle")
        .select("anchor_id", F.col("doc_id").alias("neg_id"))
        .distinct()
    )
    cand = _neg_candidates(docs, anchors, shared).drop("h")
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("va"))
    nv = emb.select(F.col("vec_id").alias("neg_id"), F.col("embedding").alias("vn"))
    scored = (
        cand.join(a, "anchor_id")
        .join(nv, "neg_id")
        .select("anchor_id", "neg_id", cosine(F.col("va"), F.col("vn")).alias("cos_sim"))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cos_sim").desc(), F.col("neg_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("anchor_id", "neg_id", "cos_sim", "rnk")
    )


@query(
    "q_llm_dup_inflation",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({_TOK}) AS BIGINT) AS n_tok,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    keep AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY fp)
    SELECT d.source,
           CAST(sum(d.n_tok) AS BIGINT) AS total_tokens,
           CAST(coalesce(sum(d.n_tok) FILTER (WHERE d.doc_id = k.keep_id), 0)
                AS BIGINT) AS unique_tokens,
           CASE WHEN sum(d.n_tok) FILTER (WHERE d.doc_id = k.keep_id) > 0 THEN
             CAST(CAST(sum(d.n_tok) AS BIGINT) AS DOUBLE)
               / CAST(sum(d.n_tok) FILTER (WHERE d.doc_id = k.keep_id)
                      AS BIGINT)
           END AS inflation
    FROM d JOIN keep k ON k.fp = d.fp
    GROUP BY d.source
    """,
)
def q_llm_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate TOKEN-MASS inflation per source: total tokens vs
    tokens of the kept-first representatives — the 'how much compute
    would training on this source waste' number that turns dedup from
    hygiene into a budget line (inflation 1.0 = clean; 2.0 = half the
    tokens are re-reads). Uses the exact-dedup fingerprint verbatim
    (q_llm_exact_dedup's md5-of-normalized-text); sources whose every
    doc is a dup of another source's keeper report NULL inflation
    (guarded identically). Integer sums, one division; one fp-keyed
    shuffle plus the source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("n_tok"),
        TX.fingerprint(F.col("text")).alias("fp"),
    )
    keep = d.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    j = d.join(keep, "fp")
    kept_tok = F.sum(
        F.when(F.col("doc_id") == F.col("keep_id"), F.col("n_tok"))
    )
    return j.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.coalesce(kept_tok, F.lit(0)).cast("bigint").alias("unique_tokens"),
        F.when(
            kept_tok > 0,
            F.sum("n_tok").cast("bigint").cast("double")
            / kept_tok.cast("bigint"),
        ).alias("inflation"),
    )


@query(
    "q_multimodal_dedup",
    oracle="""
    SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dup_cnt
    FROM documents GROUP BY text HAVING count(*) > 1
    """,
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-content dedup over the media column: group the real BMP
    blobs by md5 of their BYTES — the exact-dedup shape for
    image/audio/video lakes, where the digest of the blob IS the join
    key (no decode needed, no pixel compare; one shuffle of 128-bit
    digests exactly like text exact-dedup). The encode is
    deterministic (text bytes → fixed zero-padded raster), so two
    blobs collide iff their source texts are byte-identical — which is
    what lets DuckDB predict the groups from `GROUP BY text` without
    being able to build a BMP. NULL/empty texts would both encode to
    the single-zero-byte raster and merge groups the text GROUP BY
    keeps apart — the fixtures contain neither (asserted empirically);
    a production ingest dedups AFTER a non-empty filter."""
    from kafka_streams_clojure_spark.operators.multimodal import text_to_bmp_blobs

    docs = load_table(spark, sf_dir, "documents")
    blobs = text_to_bmp_blobs(docs)
    return (
        blobs.groupBy(F.md5(F.col("blob")).alias("digest"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").cast("bigint").alias("dup_cnt"),
        )
        .filter(F.col("dup_cnt") > 1)
        .select("keep_id", "dup_cnt")
    )


@query(
    "q_multimodal_near_dup",
    oracle="""
    WITH p AS (
      SELECT doc_id,
        256 + CAST(('0x' || substr(md5(coalesce(text, '')), 1, 8)) AS BIGINT) % 768 AS a,
        256 + CAST(('0x' || substr(md5(coalesce(text, '')), 9, 8)) AS BIGINT) % 768 AS b,
        CAST(('0x' || substr(md5(coalesce(text, '')), 17, 8)) AS BIGINT) % 1024 AS c,
        CAST(('0x' || substr(md5(coalesce(text, '')), 25, 8)) AS BIGINT) % 510 AS d
      FROM documents
    ),
    gi  AS (SELECT doc_id, a, b, c, d, unnest(range(9)) AS i FROM p),
    gij AS (SELECT doc_id, a, b, c, d, i, unnest(range(8)) AS j FROM gi),
    -- luma at dHash sample (i,j): original-raster pixel (4i, 2j) of the
    -- 36x16 gradient v = |t mod 510 - 255|,
    -- t = (a*x)//35 + (b*y)//15 + (c*x*(y+5))//700 + d  (all-integer)
    v AS (
      SELECT doc_id, i, j,
        abs((((a*4*i)//35 + (b*2*j)//15 + (c*4*i*(2*j+5))//700 + d) % 510) - 255) AS v
      FROM gij
    ),
    bits AS (
      SELECT l.doc_id, l.j, l.i, CASE WHEN l.v > r.v THEN 1 ELSE 0 END AS bit
      FROM v l JOIN v r ON r.doc_id = l.doc_id AND r.j = l.j AND r.i = l.i + 1
      WHERE l.i < 8
    ),
    hashes AS (
      SELECT doc_id, j // 2 AS band,
             SUM(bit * (CAST(1 AS BIGINT) << ((j % 2) * 8 + i))) AS hb
      FROM bits GROUP BY doc_id, j // 2
    ),
    -- decimation-aligned geometry: the resized variant samples the SAME
    -- original pixels, so its dHash equals the original's — emit both
    -- vids off one hash computation
    vids AS (
      SELECT doc_id + var * 10000000 AS vid, band, hb
      FROM hashes, (SELECT unnest([0, 1]) AS var)
    ),
    cands AS (
      SELECT DISTINCT x.vid AS id_a, y.vid AS id_b
      FROM vids x JOIN vids y ON y.band = x.band AND y.hb = x.hb AND x.vid < y.vid
    ),
    ham AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(bit_count(xor(xa.hb, xb.hb))) AS BIGINT) AS hamming
      FROM cands c
      JOIN vids xa ON xa.vid = c.id_a
      JOIN vids xb ON xb.vid = c.id_b AND xb.band = xa.band
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 2
    """,
)
def q_multimodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media NEAR-dup via perceptual hashing (r8 verdict #3) — the
    fuzzy upgrade of `q_multimodal_dedup`'s exact-bytes md5: each doc
    renders as a deterministic SMOOTH gradient BMP (perceptual hashes
    are meaningless on the raw-text-byte noise rasters), the corpus is
    originals ∪ their 2×-decimated re-encodes (vid + 10M — the
    duplicate class whose bytes, dims and md5 all differ), every blob
    is dHashed (9×8 luma grid → 64 difference bits in four 16-bit
    bands, operators/multimodal.dhash_bmp), and pairs within Hamming
    distance 2 surface through exact Hamming-band blocking
    (pigeonhole: ≤3 flipped bits leave ≥1 of 4 bands identical — no
    recall loss, never images²).

    Exactly ORACLE-gated end-to-end, unusual for a near-dup key: the
    gradient raster is an integer triangle wave of four md5-derived
    params and the 36×16 geometry makes every dHash sample position
    survive the decimation (columns 4i, rows 2j — all even), so DuckDB
    recomputes both variants' full 64-bit hashes, the banding join and
    the Hamming filter from the text alone — codec, resize, hash and
    blocking all value-checked. Scale: the hash table is 5 longs/row
    (blobs never pass the mapInPandas boundary), candidates are
    id-width, `max_bucket` loud-fails on degenerate buckets."""
    from kafka_streams_clojure_spark.operators.multimodal import (
        dhash_images,
        gradient_bmp_blobs,
        phash_near_dup_pairs,
        resize_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    # orig is consumed twice (union branch + resize input) but is NOT
    # persisted: after the r13 kernel vectorization the re-render is
    # cheaper than the blob round-trip through the block store on both
    # cold and warm walls (x10 cold 4.99 s vs 5.78 s persisted) — and
    # re-scan is the only feasible choice at 100 TB anyway
    orig = gradient_bmp_blobs(docs)
    resized = resize_images(orig, "blob", factor=2).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    corpus = orig.unionByName(resized)
    hashes = dhash_images(corpus, "blob", id_col="doc_id")
    return phash_near_dup_pairs(hashes, id_col="vid", max_hamming=2)


@query(
    "q_llm_dataset_card",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT)                 AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT)    AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT)  AS n_sources,
           CAST(sum(n_chars) AS BIGINT)            AS n_chars,
           CAST(sum(len({_TOK})) AS BIGINT)        AS n_tokens,
           CAST(count(DISTINCT
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
                AS BIGINT)                         AS unique_docs,
           CAST(1e0 - CAST(count(DISTINCT
                  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
                AS DOUBLE) / count(*) AS DOUBLE)   AS dup_ratio
    FROM documents
    """,
)
def q_llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD stats block: the one-row corpus summary a
    published dataset ships with — documents, languages, sources,
    characters, whitespace tokens, exact-unique documents and the
    duplication ratio — computed in ONE scan (the distinct fingerprint
    count rides the same aggregate; no second pass, no join). Every
    number is an integer or an exact integer ratio; the fingerprint is
    the exact-dedup md5 verbatim. The headline numbers every other
    audit key in the registry drills into."""
    docs = load_table(spark, sf_dir, "documents")
    fp = TX.fingerprint(F.col("text"))
    return docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum(F.size(TX.tokens(F.col("text")))).cast("bigint").alias("n_tokens"),
        F.countDistinct(fp).cast("bigint").alias("unique_docs"),
        (
            F.lit(1.0)
            - F.countDistinct(fp).cast("bigint").cast("double") / F.count("*")
        ).cast("double").alias("dup_ratio"),
    )


@query(
    "q_llm_mixture_weights",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS sqrtn FROM s
    ),
    d AS (SELECT list_sum(list(sqrtn ORDER BY source)) AS denom FROM w)
    SELECT w.source, w.n_docs, w.sqrtn / d.denom AS weight
    FROM w, d
    """,
)
def q_llm_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled SOURCE-MIXTURE weights (the multilingual /
    multi-domain sampling recipe: p_i ∝ n_i^α with α = 0.5): how much
    of each training batch every source should contribute so small
    sources are up-sampled without drowning the big ones. α is fixed
    at 0.5 BECAUSE that makes the power a `sqrt` — the one
    libm-divergent-safe power (the CLAUDE.md pow ban). The
    denominator Σ√n_j is a deterministic LEFT-TO-RIGHT fold over the
    source-sorted list (Spark `aggregate` vs DuckDB `list_sum` — the
    q_llm_cosine_topk parity contract), never a shuffled double sum;
    it rides back as a broadcast 1-row side. Per-source shuffle only
    (map-side combined counts); the weight table is dimension-sized
    at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    w = s.withColumn("sqrtn", F.sqrt(F.col("n_docs").cast("double")))
    d = w.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "sqrtn"))),
            F.lit(0.0),
            lambda acc, x: acc + x["sqrtn"],
        ).alias("denom")
    )
    return w.crossJoin(F.broadcast(d)).select(
        "source", "n_docs", (F.col("sqrtn") / F.col("denom")).alias("weight")
    )


@query(
    "q_llm_eval_split",
    oracle=f"""
    WITH b AS (
      SELECT source, n_chars,
             CASE WHEN {_SQL_BUCKET} < 90 THEN 'train'
                  WHEN {_SQL_BUCKET} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY split, source
    """,
)
def q_llm_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test SPLIT assignment by content
    hash (`md5(doc_id) % 100` — the engine's standing bucket idiom):
    reproducible across runs and machines, no RNG state to ship, and
    any doc's split is recomputable from its id alone (the property
    an eval pipeline needs to guarantee a doc never migrates between
    train and test as the corpus grows). Output is the per-(split,
    source) census — the leakage-audit view; one hash-bucket map plus
    a dimension-sized rollup, no shuffle wider than the group keys."""
    docs = load_table(spark, sf_dir, "documents")
    split = (
        F.when(_bucket() < 90, "train").when(_bucket() < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "q_llm_l_diversity",
    oracle="""
    SELECT lang, CAST(n_chars // 100 AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS l_div,
           count(DISTINCT source) < 3 AS under_l3
    FROM documents GROUP BY lang, band
    """,
)
def q_llm_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit over the (lang, length-band) quasi-identifier
    — the privacy check k-anonymity (q_llm_k_anonymity) misses: a
    group can be large (k-anonymous) yet have every member share one
    sensitive attribute value. Here `source` plays the sensitive
    column; groups with fewer than 3 distinct sources are flagged.
    One grouped exact count-distinct (expand at the group key, the
    q_agg_count_distinct shape) — shuffle keyed by the quasi-id, group
    count is bounded by lang × band cardinality at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    band = F.expr("n_chars div 100").alias("band")
    return docs.groupBy("lang", band).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("l_div"),
        (F.countDistinct("source") < 3).alias("under_l3"),
    )


@query(
    "q_llm_dup_provenance",
    oracle=f"""
    WITH {_JACCARD_CAPPED_CTES}
    SELECT da.source = db.source AS same_source,
           da.lang = db.lang AS same_lang,
           CAST(count(*) AS BIGINT) AS n_pairs,
           min(jaccard) AS min_j,
           max(jaccard) AS max_j
    FROM jpairs_c p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2
    """,
)
def q_llm_dup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROVENANCE profile of the near-dup population: every Jaccard
    >= 0.5 pair from the shared shingle chain, bucketed by whether the
    two docs share a source and a language — the audit that tells you
    WHERE duplication comes from (intra-source crawler artifacts vs
    cross-source syndication vs cross-lingual template reuse), which
    decides whether dedup should run per-source (cheap, shardable) or
    global (one corpus shuffle); the NEAR-dup complement of
    `q_llm_source_overlap`'s exact-fingerprint source-pair matrix.
    Cross-engine discipline: the group
    carries only integer counts and min/max of the jaccard ratio —
    min/max are order-independent and the ratios themselves are the
    same one-division doubles on both engines (never a double SUM of
    them). Scale shape: pairs come from the never-docs² shingle
    equi-join WITH the ``_STOP_SHINGLE_CAP`` stop-shingle cut (the
    q_llm_ngram_jaccard_capped production shape — the uncapped source
    was r6's verdict item 1: a hot boilerplate shingle goes F²); the
    two provenance lookups are id-width joins of the (small) pair set
    against the docs dimension; output ≤ 4 rows."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, k=4, threshold=0.5, max_doc_freq=_STOP_SHINGLE_CAP
    )
    da = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
        F.col("lang").alias("lang_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
        F.col("lang").alias("lang_b"),
    )
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .groupBy(
            (F.col("src_a") == F.col("src_b")).alias("same_source"),
            (F.col("lang_a") == F.col("lang_b")).alias("same_lang"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("jaccard").alias("min_j"),
            F.max("jaccard").alias("max_j"),
        )
    )


@query(
    "q_llm_knn_label_agreement",
    oracle="""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS pv, label AS probe_label
      FROM embeddings WHERE vec_id < 20
    ),
    top6 AS (
      SELECT p.probe_id, p.probe_label, e.vec_id, e.label,
             list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.pv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(p.pv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
               AS cos_sim
      FROM embeddings e CROSS JOIN probes p
      QUALIFY row_number() OVER (PARTITION BY p.probe_id
                                 ORDER BY cos_sim DESC, e.vec_id) <= 6
    ),
    knn AS (
      SELECT * FROM top6 WHERE vec_id <> probe_id
      QUALIFY row_number() OVER (PARTITION BY probe_id
                                 ORDER BY cos_sim DESC, vec_id) <= 5
    )
    SELECT probe_label AS label,
           CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes,
           CAST(count(*) AS BIGINT) AS n_neighbors,
           CAST(count(*) FILTER (WHERE label = probe_label) AS BIGINT)
             AS n_same_label,
           CAST(count(*) FILTER (WHERE label = probe_label) AS DOUBLE)
             / count(*) AS agreement
    FROM knn GROUP BY probe_label
    """,
)
def q_llm_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised eval of the embedding space: 5-NN LABEL AGREEMENT —
    for each probe (vec_id < 20, the q_llm_topk_multi probe idiom),
    its 5 exact-cosine nearest neighbors EXCLUDING itself, and per
    probe-label the fraction of neighbors sharing the label (the kNN
    leave-one-out accuracy a retrieval team tracks per class before
    shipping an encoder; complements q_llm_triplet_eval's pairwise
    margin check). Self-exclusion is exact in all tie cases: top-6
    overall necessarily CONTAINS the true top-5-excluding-self (drop
    one element and the rest's top-5 sits inside the whole's top-6),
    so rank 6 → filter self → re-rank 5, identically in both engines.
    Agreement is one integer/integer division — exact-double parity,
    never a summed float. Scale: one corpus scan against a broadcast
    20-row probe set, ranking window prunes to 6 per probe; the label
    join rides the same broadcast; output ≤ 10 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    top6 = cosine_topk_multi(emb, probes, k=6)
    plabel = F.broadcast(
        probes.select(
            F.col("vec_id").alias("probe_id"), F.col("label").alias("probe_label")
        )
    )
    nlabel = emb.select("vec_id", F.col("label").alias("nn_label"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    knn = (
        top6.filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .join(plabel, "probe_id")
        .join(nlabel, "vec_id")
    )
    same = F.when(F.col("nn_label") == F.col("probe_label"), 1)
    return knn.groupBy(F.col("probe_label").alias("label")).agg(
        F.countDistinct("probe_id").cast("bigint").alias("n_probes"),
        F.count("*").cast("bigint").alias("n_neighbors"),
        F.count(same).cast("bigint").alias("n_same_label"),
        (F.count(same).cast("double") / F.count("*")).alias("agreement"),
    )


@query(
    "q_llm_filter_funnel",
    oracle="""
    WITH f AS (
      SELECT n_chars,
             n_chars >= 50 AS s1,
             n_chars >= 50 AND n_chars BETWEEN 80 AND 2000 AS s2,
             n_chars >= 50 AND n_chars BETWEEN 80 AND 2000
               AND lang IN ('en', 'de', 'fr') AS s3,
             n_chars >= 50 AND n_chars BETWEEN 80 AND 2000
               AND lang IN ('en', 'de', 'fr')
               AND row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) = 1 AS s4
      FROM documents
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars FROM f
      UNION ALL
      SELECT 1, 'min_length', CAST(count(*) FILTER (WHERE s1) AS BIGINT),
             CAST(sum(n_chars) FILTER (WHERE s1) AS BIGINT) FROM f
      UNION ALL
      SELECT 2, 'length_band', CAST(count(*) FILTER (WHERE s2) AS BIGINT),
             CAST(sum(n_chars) FILTER (WHERE s2) AS BIGINT) FROM f
      UNION ALL
      SELECT 3, 'lang_known', CAST(count(*) FILTER (WHERE s3) AS BIGINT),
             CAST(sum(n_chars) FILTER (WHERE s3) AS BIGINT) FROM f
      UNION ALL
      SELECT 4, 'exact_dedup', CAST(count(*) FILTER (WHERE s4) AS BIGINT),
             CAST(sum(n_chars) FILTER (WHERE s4) AS BIGINT) FROM f
    )
    """,
)
def q_llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-loss ATTRIBUTION funnel: docs (and char mass)
    surviving each cumulative filter stage — raw → min-length →
    length-band → supported-language → exact-dedup keep-first. The
    dataset-engineering report that says WHICH filter is eating the
    corpus before anyone re-tunes thresholds blind (the composed
    q_llm_pipeline gives only the final survivors). All stages are
    conditional aggregates over ONE scan; the only shuffle is the
    digest-keyed keep-first window (the exact_dedup shape), and the
    5-row unpivot is a driver-free `stack`. Counts and char masses
    are integers end to end — no float discipline needed."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flg = docs.select(
        "n_chars", "lang", (F.row_number().over(w) == 1).alias("canon")
    )
    s1 = F.col("n_chars") >= 50
    s2 = s1 & F.col("n_chars").between(80, 2000)
    s3 = s2 & F.col("lang").isin("en", "de", "fr")
    s4 = s3 & F.col("canon")
    agg = flg.agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum("n_chars").cast("bigint").alias("c0"),
        *[
            x
            for i, s in enumerate((s1, s2, s3, s4), start=1)
            for x in (
                F.count(F.when(s, 1)).cast("bigint").alias(f"n{i}"),
                F.sum(F.when(s, F.col("n_chars"))).cast("bigint").alias(f"c{i}"),
            )
        ],
    )
    return agg.select(
        F.expr(
            "stack(5,"
            " CAST(0 AS BIGINT), 'raw', n0, c0,"
            " CAST(1 AS BIGINT), 'min_length', n1, c1,"
            " CAST(2 AS BIGINT), 'length_band', n2, c2,"
            " CAST(3 AS BIGINT), 'lang_known', n3, c3,"
            " CAST(4 AS BIGINT), 'exact_dedup', n4, c4"
            ") AS (stage_idx, stage, n_docs, total_chars)"
        )
    )


@query("q_multimodal_binary_ingest")  # filesystem source — rows-only
def q_multimodal_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-lake INGESTION through Spark's built-in `binaryFile`
    source — the missing first hop of the multimodal family (the
    codec keys start from blobs already in a column; real pipelines
    start from a directory of media files). The corpus's BMP blobs
    are materialized as individual ``<doc_id>.bmp`` files by a
    partition-parallel ``mapInPandas`` writer (forced by a `noop`
    sink — zero driver collect), then read back with
    ``spark.read.format("binaryFile")`` (+ ``pathGlobFilter``), and
    the result is the per-file (doc_id parsed from the path, n_bytes,
    md5) manifest. Rows-only BY DESIGN: there is no DuckDB twin for a
    filesystem source; the gate is
    tests/test_llm_ops.py::test_binary_ingest_roundtrips_blob_digests
    pinning the manifest EQUAL to the in-plan ``attach_media`` digest
    table. On a real cluster the writer targets shared/object storage
    instead of executor-local disk (local[*] makes them the same
    here); the read side partition-prunes on file boundaries and
    never shuffles."""
    import os

    import pandas as pd  # noqa: F811 — Arrow batch writer below

    from kafka_streams_clojure_spark.streaming import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    blobs = text_to_bmp_blobs(docs)
    out = scratch_dir("kscs_media_")

    def write_files(batches):
        for pdf in batches:
            for i, b in zip(pdf["doc_id"], pdf["blob"]):
                with open(os.path.join(out, f"{int(i)}.bmp"), "wb") as fh:
                    fh.write(b)
            yield pd.DataFrame({"n": [len(pdf)]})

    blobs.mapInPandas(write_files, "n long").write.format("noop").mode(
        "overwrite"
    ).save()
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.bmp").load(out)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bmp$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("checksum"),
    )


@query(
    "q_llm_corpus_integrity",
    oracle="""
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(e.vec_id) AS BIGINT) AS n_with_vec,
           CAST(count(*) - count(e.vec_id) AS BIGINT) AS n_missing_vec,
           CAST(count(e.vec_id) AS DOUBLE) / count(*) AS coverage
    FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.source
    UNION ALL
    SELECT '__vectors_without_doc__',
           CAST(0 AS BIGINT),
           CAST(0 AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM embeddings e
    WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
    """,
)
def q_llm_corpus_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-integrity audit between the text corpus and its
    embedding table — the first thing to check before ANY
    embedding-dependent stage (ANN, triplets, kNN eval) silently
    under-covers: per-source doc counts, how many have a vector, how
    many are missing one (coverage = exact int/int division), plus one
    sentinel row counting orphan vectors that reference no document
    (stale vectors after a corpus purge). One id-keyed left join +
    source rollup and one anti-join count — both shuffles are id/key
    width; output is dimension-sized. At sf0.1 the fixture itself is
    interesting: 3 000 of 5 000 docs have no vector — exactly the gap
    a kNN eval would otherwise average over unnoticed."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    vec_ids = emb.select(F.col("vec_id").alias("doc_id"))
    cov = (
        docs.join(vec_ids.withColumn("__has", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("__has").cast("bigint").alias("n_with_vec"),
            (F.count("*") - F.count("__has")).cast("bigint").alias("n_missing_vec"),
            (F.count("__has").cast("double") / F.count("*")).alias("coverage"),
        )
    )
    orphans = (
        emb.join(docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti")
        .agg(F.count("*").cast("bigint").alias("__n"))
        .select(
            F.lit("__vectors_without_doc__").alias("source"),
            F.lit(0).cast("bigint").alias("n_docs"),
            F.lit(0).cast("bigint").alias("n_with_vec"),
            F.col("__n").alias("n_missing_vec"),
            F.lit(None).cast("double").alias("coverage"),
        )
    )
    return cov.unionByName(orphans)


@query(
    "q_llm_commonness",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKL}) AS w FROM documents
    ),
    wf AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM tok GROUP BY w)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(wf.n_w) AS BIGINT) AS freq_sum,
           CAST(CAST(sum(wf.n_w) AS DOUBLE) / count(*) AS DOUBLE)
             AS commonness
    FROM tok t JOIN wf ON wf.w = t.w
    GROUP BY t.doc_id
    """,
)
def q_llm_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document COMMONNESS score: the mean corpus frequency of the
    doc's tokens — the division-only stand-in for a unigram-LM
    perplexity filter (low commonness = rare-token soup: OCR garbage,
    binary-as-text, wrong-language fragments; perplexity itself needs
    the banned ln). Integer occurrence counts summed per doc, ONE
    double division — nothing float accumulates. Plan: explode →
    word-keyed frequency aggregate → word-keyed join back → doc-keyed
    rollup; at 100 TB the frequency table is vocabulary-sized (Zipf:
    far smaller than the corpus, broadcastable after a min-count cut)
    and the explode join is the inverted-index shape the engine
    already scales."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    )
    wf = tok.groupBy("w").agg(F.count("*").cast("bigint").alias("n_w"))
    return (
        tok.join(wf, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("n_w").cast("bigint").alias("freq_sum"),
            (F.sum("n_w").cast("double") / F.count("*"))
            .cast("double")
            .alias("commonness"),
        )
    )


#: GPT-2-style BPE pre-tokenizer regex, restricted to EXPLICIT ASCII
#: classes: Java (Spark) and RE2 (DuckDB) disagree on \w/\b Unicode
#: semantics, but [a-zA-Z], [0-9] and \s mean the same thing in both —
#: so the match sets are bit-identical and the key stays exact-oracle.
#: CJK and accented text falls into the "other-symbols" run class,
#: which is exactly how a byte-level BPE pre-tokenizer treats it too.
_BPE_PAT = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"


@query(
    "q_llm_bpe_pretokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '{_BPE_PAT.replace("'", "''")}')) AS BIGINT) AS n_pretokens,
           CAST(len({_TOK}) AS BIGINT) AS n_ws_tokens,
           CAST(CAST(len(regexp_extract_all(text,
                '{_BPE_PAT.replace("'", "''")}')) AS DOUBLE)
                / len({_TOK}) AS DOUBLE) AS pretokens_per_word
    FROM documents
    """,
)
def q_llm_bpe_pretokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish PRE-TOKEN counting beside the whitespace count — the
    north-star token-counting pair: the GPT-2-style pre-tokenizer
    regex (contractions ∪ space-prefixed letter runs ∪ digit runs ∪
    symbol runs ∪ whitespace) counts the units a byte-level BPE
    actually merges over, and pretokens_per_word is the budget
    predictor (symbol-heavy / CJK docs cost more tokens per word than
    the whitespace count suggests — the same signal q_llm_fertility
    measures per LANGUAGE, here per DOCUMENT). Exactness: the pattern
    uses only explicit ASCII classes, the one corner where Java and
    RE2 regex semantics provably coincide (\\w/\\b Unicode rules do
    NOT — see _BPE_PAT); counts are integers, ratio is one exact
    division. Pure map — zero shuffles at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    npre = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)).cast("bigint")
    nws = F.size(F.split(F.col("text"), r"\s+")).cast("bigint")
    return docs.select(
        "doc_id",
        npre.alias("n_pretokens"),
        nws.alias("n_ws_tokens"),
        (npre.cast("double") / nws).cast("double").alias("pretokens_per_word"),
    )


#: BPE training rounds for q_llm_bpe_merges — enough for later rounds
#: to build on earlier rounds' merged symbols (cascading merges), small
#: enough that the unrolled oracle stays readable.
_BPE_ROUNDS = 6


def _bpe_merges_sql(rounds: int, final: str | None = None) -> str:
    """Unrolled BPE-training oracle (the q_graph_pagerank discipline):
    each round = pair-count + deterministic winner (count DESC, then
    lexicographic) + greedy-leftmost merge, as CTE levels. Mirrors
    operators/text.bpe_merges exactly — all-integer counts, ASCII
    string compares, run-parity windows. ``final`` overrides the
    trailing SELECT (default: the merge table) — the encode oracle
    reads the last tokenization level ``t{rounds}`` instead, keeping
    the two keys' training arithmetic literally one definition."""
    sql = """
    WITH wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents)
      GROUP BY w
    ),
    t0 AS (
      SELECT w, freq, i AS pos, substr(w, CAST(i AS INT), 1) AS sym
      FROM wf, unnest(range(1, len(w) + 1)) AS r(i)
    )"""
    for k in range(1, rounds + 1):
        p = k - 1
        sql += f""",
    pair{k} AS (
      SELECT w, freq, pos, sym,
             lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym
      FROM t{p}
    ),
    win{k} AS (
      SELECT sym AS lhs, nsym AS rhs, CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM pair{k} WHERE nsym IS NOT NULL GROUP BY sym, nsym
      ORDER BY pair_count DESC, lhs, rhs LIMIT 1
    ),
    cand{k} AS (
      SELECT p.w, p.freq, p.pos, p.sym, p.nsym,
             (p.sym = x.lhs AND p.nsym IS NOT NULL AND p.nsym = x.rhs)
               AS is_cand
      FROM pair{k} p, win{k} x
    ),
    mk{k} AS (
      SELECT *, is_cand AND (ROW_NUMBER() OVER (
               PARTITION BY w, is_cand, grp ORDER BY pos) % 2 = 1) AS do_merge
      FROM (SELECT *, pos - SUM(CASE WHEN is_cand THEN 1 ELSE 0 END)
                        OVER (PARTITION BY w ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS grp
            FROM cand{k})
    ),
    t{k} AS (
      SELECT w, freq,
             ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
             CASE WHEN do_merge THEN sym || nsym ELSE sym END AS sym
      FROM (SELECT *, coalesce(lag(do_merge)
                        OVER (PARTITION BY w ORDER BY pos), FALSE) AS consumed
            FROM mk{k})
      WHERE NOT consumed
    )"""
    if final is None:
        final = "\n    UNION ALL ".join(
            f"SELECT {k} AS round, lhs, rhs, pair_count FROM win{k}"
            for k in range(1, rounds + 1)
        )
    return sql + "\n    " + final


@query("q_llm_bpe_merges", oracle=_bpe_merges_sql(_BPE_ROUNDS))
def q_llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE MERGE TRAINING (r8 verdict #4) — the tokenizer-training step
    a real training-data pipeline runs on the corpus, extending
    `q_llm_bpe_pretokens` (which only counts) into the actual
    fixed-iteration merge loop: lowercase [a-z]+ words are counted once
    (the only corpus-sized pass), split into characters, and 6 merge
    rounds each pick the frequency-weighted most-common adjacent symbol
    pair (integer counts, lexicographic (lhs, rhs) tie-break) and merge
    its greedy-leftmost occurrences across the vocabulary. Returns the
    merge table — the artifact a tokenizer ships.

    Oracle-exact despite iteration: every round is integer arithmetic +
    ASCII compares, unrolled as CTE levels (the q_graph_pagerank
    discipline). Scale: training iterates on the VOCABULARY (Σ|word|
    rows over distinct words — corpus-size-independent), one word-keyed
    window + one map-side pair aggregate + a 1-row broadcast winner per
    round; see operators/text.bpe_merges."""
    from kafka_streams_clojure_spark.operators.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return bpe_merges(words, rounds=_BPE_ROUNDS)


_BPE_ENCODE_FINAL = f"""
    ,
    tpw AS (SELECT w, count(*) AS tpw FROM t{_BPE_ROUNDS} GROUP BY w),
    docw AS (
      SELECT doc_id, w, count(*) AS cnt
      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents)
      GROUP BY doc_id, w
    ),
    agg AS (
      SELECT doc_id, SUM(cnt) AS n_words, SUM(cnt * tpw) AS n_bpe
      FROM docw JOIN tpw USING (w) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
           CASE WHEN a.n_words IS NOT NULL
                THEN CAST(a.n_bpe AS DOUBLE) / a.n_words END AS bpe_per_word
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query("q_llm_bpe_encode", oracle=_bpe_merges_sql(_BPE_ROUNDS, _BPE_ENCODE_FINAL))
def q_llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the encode side of
    `q_llm_bpe_merges` and the number a budget-accounting pipeline
    actually bills by: every doc's token count under the TRAINED
    tokenizer (not the whitespace proxy `q_llm_token_stats` counts, nor
    the pre-token count `q_llm_bpe_pretokens` counts). Because BPE
    merges are word-internal, encoding factors through the vocabulary:
    the trained tokenization of each DISTINCT word (tokens-per-word
    from the final merge level) joins per-doc word counts — the corpus
    is never re-tokenized per occurrence (the 100 TB shape: encode cost
    ∝ vocab + one doc-word aggregate). bpe_per_word is the realized
    compression ratio, the quality signal tokenizer training monitors.

    The oracle shares the training CTE chain with q_llm_bpe_merges
    verbatim (one definition, different final SELECT) and reads the
    final tokenization level — so training AND application are both
    exact cross-engine."""
    from kafka_streams_clojure_spark.operators.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    doc_words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w"),
    ).groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    words = doc_words.groupBy("w").agg(F.sum("cnt").cast("bigint").alias("freq"))
    _, vocab = bpe_merges(words, rounds=_BPE_ROUNDS, with_vocab=True)
    tpw = vocab.groupBy("w").agg(F.count(F.lit(1)).alias("tpw"))
    agg = (
        doc_words.join(tpw, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("tpw")).alias("n_bpe"),
        )
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
        F.coalesce("n_bpe", F.lit(0)).cast("bigint").alias("n_bpe_tokens"),
        F.when(
            F.col("n_words").isNotNull(),
            F.col("n_bpe").cast("double") / F.col("n_words"),
        ).alias("bpe_per_word"),
    )


#: Winnowing's own hot-fingerprint cut. A near-dup CLUSTER of c docs
#: puts its shared fingerprints at doc-freq ~c, so the cap must sit
#: ABOVE the expected dup-cluster size and BELOW boilerplate freq —
#: at web scale those are ~10^3 vs ~10^6 and any value between works;
#: at fixture scale they nearly touch (the sf0.001 fixture has a
#: 4-doc dup cluster whose shared fps sit at doc-freq 4), so 4 is the
#: sweet spot: measured recall vs exact 0.8-Jaccard pairs is 1.0 at
#: sf0.001/sf0.01 and 0.992 at sf0.1, while the cut still excises the
#: doc-freq-5/6 hot fps at sf0.1 (cap 2 — the shingle family's value —
#: costs 13% recall).
_WINNOW_FP_CAP = 4


@query(
    "q_llm_winnowing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, len(t) - 3 AS nsh, i AS pos,
             array_to_string(t[i:i+3], ' ') AS s
      FROM toks, unnest(range(1, len(t) - 2)) AS r(i)
      WHERE len(t) > 4
      UNION ALL
      SELECT doc_id, 1 AS nsh, 1 AS pos, array_to_string(t, ' ') AS s
      FROM toks WHERE len(t) <= 4
    ),
    hashed AS (
      SELECT doc_id, nsh, pos,
             CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h
      FROM sh
    ),
    fps AS (
      SELECT DISTINCT doc_id, m AS fp FROM (
        SELECT doc_id, pos, nsh,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM hashed WHERE nsh >= 4
      ) WHERE pos <= nsh - 3
      UNION
      SELECT doc_id, min(h) AS fp FROM hashed WHERE nsh < 4 GROUP BY doc_id
    ),
    rarefp AS (
      SELECT fp FROM fps GROUP BY fp
      HAVING count(*) <= {_WINNOW_FP_CAP}
    ),
    fpc AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rarefp USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def q_llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING near-dup candidates (the MOSS fingerprint algorithm,
    Schleimer et al. 2003) — the third fingerprint family beside full
    shingles (exact, widest exchange) and MinHash (probabilistic,
    fixed-width): keep only each 4-window's minimum shingle hash, so
    the shared-key equi-join runs over ~2/(w+1) of the shingle table
    while any shared run of >= 7 words still guarantees a shared
    fingerprint. Pairs sharing >= 2 fingerprints are the candidate
    set. Every fingerprint is bit-reproducible in DuckDB (md5-prefix
    hash, identical window-min and boundary rules), so unlike MinHash
    this SELECTIVE family stays exact-oracle — it is the word-shingle,
    oracle-gated face of the same algorithm whose character-chunk
    rolling-hash form is the rows-only `q_llm_winnow`
    (operators/winnow.py: catches sub-word/byte-level chunk reuse the
    word tokenization can't see; this key catches word-level reuse
    with a cross-engine proof). Plan: codegen shingle
    build, per-doc window min (doc-keyed, the pinned-repartition
    shape), fingerprint equi-join — never docs², and the join input
    takes the ``_WINNOW_FP_CAP`` doc-freq cut (r6 verdict item 1, the
    shingle family's stop-shingle discipline): a fingerprint landing
    in F docs costs F² join rows, so hot (boilerplate-minimum)
    fingerprints are excluded — at sf0.1 the cut keeps 304 of 308
    uncapped pairs and 99.2% of exact 0.8-Jaccard near-dups (the rest
    matched only on hot fingerprints)."""
    from kafka_streams_clojure_spark.operators.dedup import winnowing_fingerprints
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    docs = load_table(spark, sf_dir, "documents")
    fps = persist_if_uncached(winnowing_fingerprints(docs, k=4, window=4))
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= _WINNOW_FP_CAP)
        .select("fp")
    )
    fpc = fps.join(rare, "fp")
    a = fpc.select(F.col("doc_id").alias("id_a"), "fp")
    b = fpc.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query(
    "q_llm_substring_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
    tok AS (
      SELECT doc_id, len(t) AS n, i - 1 AS pos, t[CAST(i AS INT)] AS tok
      FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
    ),
    occ AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+2], ' ') AS s
      FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY s) AS cnt,
               row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rk
        FROM occ)
      WHERE cnt > 1 AND rk > 1
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + u AS p FROM dup, unnest(range(3)) AS r(u)
    ),
    runs AS (
      SELECT doc_id, p,
             count(*) OVER (PARTITION BY doc_id, grp) AS runlen
      FROM (SELECT doc_id, p,
                   p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
            FROM cov)
    ),
    dropped AS (SELECT doc_id, p FROM runs WHERE runlen >= 8),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok t LEFT JOIN dropped d ON d.doc_id = t.doc_id AND d.p = t.pos
      WHERE d.p IS NULL
    ),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_total FROM tok GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(t.n_total - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(t.n_total AS BIGINT) AS n_total
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
)
def q_llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup REMOVAL (r8 verdict #6 — the Lee et al.
    2022 ExactSubstr shape): duplicated runs of ≥ 8 tokens are REMOVED
    from every occurrence except the corpus-first one, and each doc's
    surviving tokens reassemble in order — the span-REMOVAL complement
    of `q_llm_winnowing` (which flags doc pairs) built on
    `q_llm_passage_dedup`'s in-order-rebuild machinery. Coverage comes
    from duplicated positional 3-shingle occurrences (keep-first on
    the shingle's smallest (doc, pos)), so any repeated run ≥ 8 tokens
    — across docs or within one — is caught in full with NO pair join
    anywhere: one shuffle by shingle, a ×3 coverage explode, doc-keyed
    run windows (operators/dedup.substring_dedup for the 100 TB
    anatomy). Span boundaries are deterministic integers, so the whole
    removal is oracle-exact; planted shared-run invariants in
    tests/test_llm_ops.py."""
    from kafka_streams_clojure_spark.operators.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup(docs, k=3, min_run=8)


@query("q_llm_substring_dedup_hashed")
def q_llm_substring_dedup_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION exchange shape of q_llm_substring_dedup (the
    q_llm_passage_dedup_hashed precedent): identical removal semantics,
    but the duplicated-occurrence window — the one corpus-sized shuffle
    — keys on ``xxhash64(shingle)``, 8 bytes/row on the wire instead of
    the raw 3-word string (the dominant width cut at 100 TB). Rows-only
    BY DESIGN: DuckDB cannot reproduce Spark's xxhash64; the gate is
    tests/test_llm_ops.py::test_substring_dedup_hashed_matches_string
    pinning output EQUALITY to the oracle-gated string twin — a 64-bit
    collision conflating two shingles is ~2^-64/pair and would surface
    there first."""
    from kafka_streams_clojure_spark.operators.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup(docs, k=3, min_run=8, hash_key=True)


@query(
    "q_llm_bitext_mining",
    oracle=f"""
    WITH e AS (
      SELECT em.vec_id, em.label, em.embedding, d.lang
      FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
    ),
    cand AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             {_MMR_COS.format(a='s.embedding', b='t.embedding')} AS cos_sim
      FROM e s JOIN e t ON t.label = s.label
      WHERE s.lang = 'en' AND t.lang <> 'en'
    ),
    ranked AS (
      SELECT src_id, tgt_id, cos_sim,
             row_number() OVER w AS rnk,
             lead(cos_sim) OVER w AS runner_up
      FROM cand
      WINDOW w AS (PARTITION BY src_id ORDER BY cos_sim DESC, tgt_id)
    )
    SELECT src_id, tgt_id, cos_sim, cos_sim - runner_up AS margin
    FROM ranked WHERE rnk = 1
    """,
)
def q_llm_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEXT MINING for multilingual training data: for every English
    document, the best NON-English candidate by embedding cosine
    within the same label block, scored with the absolute MARGIN over
    the runner-up (the margin-criterion idea of Artetxe & Schwenk,
    ACL'19, in its difference form — a ratio margin would divide by
    near-zero cosines on this near-orthogonal fixture). High-margin
    rows are the aligned-pair candidates a translation-pair pipeline
    promotes; low margins flag hubness (one target near-best for many
    sources). Exactness: cosines are the exact left-to-right folds,
    the runner-up comes from a lead() over the (cos DESC, tgt_id)
    tiebroken window — identical in both engines; margin is one
    double subtraction (NULL when a block offers a single candidate).
    Scale shape: candidates are LABEL-blocked (the
    q_llm_embedding_near_dup argument: never |src|x|tgt| global, cost
    ∝ Σ_label |src_l|·|tgt_l|), one src-keyed window, one row out per
    English doc."""
    from kafka_streams_clojure_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    e = emb.join(
        docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
    )
    src = e.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("src_id"), "label", F.col("embedding").alias("sv")
    )
    tgt = e.filter(F.col("lang") != "en").select(
        F.col("vec_id").alias("tgt_id"), "label", F.col("embedding").alias("tv")
    )
    scored = src.join(tgt, "label").select(
        "src_id", "tgt_id", cosine(F.col("sv"), F.col("tv")).alias("cos_sim")
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), "tgt_id")
    ranked = (
        scored.withColumn("rnk", F.row_number().over(w))
        .withColumn("runner_up", F.lead("cos_sim").over(w))
    )
    return ranked.filter(F.col("rnk") == 1).select(
        "src_id",
        "tgt_id",
        "cos_sim",
        (F.col("cos_sim") - F.col("runner_up")).alias("margin"),
    )


def _sql_winnow_fps(src: str, sfx: str) -> str:
    """DuckDB CTE chain computing winnowing fingerprints (k=4, w=4 —
    the exact q_llm_winnowing conventions) over source CTE ``src``,
    with every CTE name suffixed so two slices can coexist in one
    WITH. Kept textually in lock-step with the q_llm_winnowing oracle
    and operators/dedup.winnowing_fingerprints."""
    return f"""toks{sfx} AS (
      SELECT doc_id, {_TOK} AS t FROM {src}
    ),
    sh{sfx} AS (
      SELECT doc_id, len(t) - 3 AS nsh, i AS pos,
             array_to_string(t[i:i+3], ' ') AS s
      FROM toks{sfx}, unnest(range(1, len(t) - 2)) AS r(i)
      WHERE len(t) > 4
      UNION ALL
      SELECT doc_id, 1 AS nsh, 1 AS pos, array_to_string(t, ' ') AS s
      FROM toks{sfx} WHERE len(t) <= 4
    ),
    hashed{sfx} AS (
      SELECT doc_id, nsh, pos,
             CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h
      FROM sh{sfx}
    ),
    fps{sfx} AS (
      SELECT DISTINCT doc_id, m AS fp FROM (
        SELECT doc_id, pos, nsh,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM hashed{sfx} WHERE nsh >= 4
      ) WHERE pos <= nsh - 3
      UNION
      SELECT doc_id, min(h) AS fp FROM hashed{sfx} WHERE nsh < 4
      GROUP BY doc_id
    )"""


@query(
    "q_llm_decontaminate_fuzzy",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, {_SQL_BUCKET} AS bucket FROM documents
    ),
    ev AS (SELECT doc_id, text FROM b WHERE bucket < 5),
    tr AS (SELECT doc_id, text FROM b WHERE bucket >= 5),
    {_sql_winnow_fps('ev', '_e')},
    {_sql_winnow_fps('tr', '_t')},
    efp AS (SELECT DISTINCT fp FROM fps_e)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM fps_t t JOIN efp USING (fp)
    GROUP BY t.doc_id
    """,
)
def q_llm_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: flag training docs sharing any
    WINNOWING fingerprint with the held-out eval slice (the same
    deterministic 5% md5-bucket split as q_llm_decontaminate). Where
    the exact key needs a verbatim shared 4-gram, the winnowing form
    detects any shared run of >= k+w-1 = 7 words while probing with
    ~2/(w+1) of the eval slice's shingle mass — the cheap first pass a
    pipeline runs at crawl scale before the exact confirm. Winnowing
    fingerprints are md5-based and bit-reproducible in DuckDB, so
    unlike MinHash this FUZZY family stays exact-oracle (the
    q_llm_winnowing argument, applied to contamination).

    Scale shape: the eval slice's distinct fingerprints BROADCAST
    (eval sets are small by definition — the q_llm_decontaminate
    argument), the training side streams through one codegen shingle
    build + per-doc window-min and a broadcast hash probe; output one
    row per contaminated training doc."""
    from kafka_streams_clojure_spark.operators.dedup import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    b = docs.withColumn("bucket", _bucket())
    ev = b.filter(F.col("bucket") < 5).select("doc_id", "text")
    tr = b.filter(F.col("bucket") >= 5).select("doc_id", "text")
    efp = winnowing_fingerprints(ev, k=4, window=4).select("fp").distinct()
    tfp = winnowing_fingerprints(tr, k=4, window=4)
    return (
        tfp.join(F.broadcast(efp), "fp")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


@query(
    "q_llm_budget_select",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST((
               least(len({_TOK}) / 100.0, 1.0)
               + CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK})
               + CASE WHEN (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                            / len({_TOK})) BETWEEN 3.0 AND 10.0
                      THEN 1.0 ELSE 0.5 END
             ) / 3.0 AS DOUBLE) AS quality,
             CAST(len({_TOK}) AS BIGINT) AS n_tok
      FROM documents
    ),
    tot AS (
      SELECT CAST((sum(n_tok) + 9) // 10 AS BIGINT) AS budget FROM scored
    ),
    r AS (
      SELECT doc_id, quality, n_tok,
             CAST(row_number() OVER w AS BIGINT) AS rnk,
             CAST(sum(n_tok) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tok
      FROM scored
      WINDOW w AS (ORDER BY quality DESC, doc_id)
    )
    SELECT doc_id, quality, n_tok, rnk, cum_tok
    FROM r CROSS JOIN tot
    WHERE cum_tok <= budget
    """,
)
def q_llm_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET curation: keep the highest-quality documents whose
    cumulative token count fits 10% of the corpus's token mass — the
    greedy budget cut every "train on the best N tokens" recipe runs
    (quality-ordered running sum, stop at the budget line). The budget
    itself is derived IN-PLAN from the corpus ((Σtok+9) DIV 10 — exact
    integer arithmetic, broadcast 1-row), so the key is scale-free
    like q_llm_triplets_scaled. Ordering ties (identical texts score
    identically) are doc_id-broken — the CLAUDE.md ordered-cumsum
    rule; token counts are integers so the running sum is exact and
    partition-split-independent. The global running sum is the
    operators/order.ranked_prefix_sum idiom: range-partitioned local
    cumsums + one broadcast per-partition prefix — NO single-task
    window at any corpus size."""
    from kafka_streams_clojure_spark.operators.order import ranked_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("quality"),
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint").alias("n_tok"),
    )
    tot = scored.agg(
        F.expr("CAST((sum(n_tok) + 9) DIV 10 AS BIGINT)").alias("budget")
    )
    ranked = ranked_prefix_sum(
        scored,
        order_by=[F.col("quality").desc(), F.col("doc_id")],
        value_col="n_tok",
        idx_col="rnk",
        cum_col="cum_tok",
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_tok") <= F.col("budget"))
        .select(
            "doc_id",
            "quality",
            "n_tok",
            "rnk",
            F.col("cum_tok").cast("bigint").alias("cum_tok"),
        )
    )


#: JL projection constants: the 16x64 Gaussian matrix is a pure
#: function of the seed (operators/similarity.random_hyperplanes), so
#: BOTH engines receive the identical matrix — Spark as F.lit doubles,
#: DuckDB as 17-significant-digit E-NOTATION literals (e-notation =
#: approximate numeric = DOUBLE; bare decimals would parse as DECIMAL,
#: the CLAUDE.md literal trap). 17 sig digits round-trips IEEE754
#: exactly, so the per-element products — and the left-to-right
#: 64-term folds — are bit-identical.
from kafka_streams_clojure_spark.operators.similarity import (  # noqa: E402
    random_hyperplanes as _jl_planes_gen,
)

_JL_OUT_DIM, _JL_SEED = 16, 7
_JL_PLANES = _jl_planes_gen(64, _JL_OUT_DIM, seed=_JL_SEED)


def _sql_dvec(p: list[float]) -> str:
    return "[" + ", ".join(f"{x:.17e}" for x in p) + "]"


_JL_SQL = "\n    UNION ALL\n    ".join(
    f"""SELECT vec_id, {j} AS dim,
      list_sum(list_transform(range(1, 65),
        i -> CAST(embedding[i] AS DOUBLE) * ({_sql_dvec(p)})[i])) AS value
    FROM embeddings"""
    for j, p in enumerate(_JL_PLANES)
)


@query("q_llm_random_projection", oracle=_JL_SQL)
def q_llm_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss RANDOM PROJECTION of the embedding table
    to 16 dimensions — the standard pre-ANN cut at corpus scale
    (pairwise distances preserved within (1±ε) for out_dim =
    O(log n/ε²); every downstream top-k/LSH/IVF pass gets 4× narrower
    vectors). The projection matrix is seeded-deterministic and baked
    into BOTH engines (see `_JL_PLANES`), each output value is one
    left-to-right 64-term double fold, and the result ships in the
    exploded (id, dim, value) row form (the q_llm_quantize_int8
    surface convention). Pure map — zero shuffles at any corpus
    size."""
    from kafka_streams_clojure_spark.operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(
        emb, out_dim=_JL_OUT_DIM, dim=64, seed=_JL_SEED
    )


@query("q_llm_semdedup")  # iterative float k-means — rows-only
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): SEMANTIC dedup in embedding space
    — k-means cells (the deterministic IVF quantizer), then inside
    each cell drop every vector with a lower-id cosine >= 0.95
    neighbor. Catches paraphrases/re-encodes the text-shingle family
    can't see — the embedding-side member of the dedup suite beside
    exact (hash), fuzzy-text (shingle/MinHash/winnowing), and
    edit-distance. Rows-only (k-means iterates floats); planted-dup
    keep-min and survivor invariants in tests/test_llm_ops.py. Scale
    (r7 verdict #1 closed): the cell count is derived IN-PLAN ∝
    √corpus (kmeans_centroids adaptive seeds, the triplets-scaled B∝N
    pattern) so cells stay ~√N-sized at any SF — assignment N·k and
    cell-blocked pair search Σ|cell|² ≈ N²/k both N^1.5, with the
    enforced max_block guard kept as the loud-fail backstop for
    genuine density skew (operators/similarity.semdedup)."""
    from kafka_streams_clojure_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, iters=3, threshold=0.95)


@query(
    "q_llm_dedup_reconcile",
    oracle=f"""
    WITH {_JACCARD_CAPPED_CTES},
    epairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
               AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
             >= 0.3
    )
    SELECT COALESCE(e.id_a, j.id_a) AS id_a,
           COALESCE(e.id_b, j.id_b) AS id_b,
           e.cos_sim,
           j.jaccard,
           CASE WHEN e.id_a IS NOT NULL AND j.id_a IS NOT NULL THEN 'both'
                WHEN e.id_a IS NOT NULL THEN 'embedding_only'
                ELSE 'shingle_only' END AS found_by
    FROM epairs e
    FULL OUTER JOIN jpairs_c j ON e.id_a = j.id_a AND e.id_b = j.id_b
    """,
)
def q_llm_dedup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FAMILY DEDUP RECONCILIATION (r7 verdict #4): full-outer
    join of the exact embedding-cosine near-dup pairs
    (q_llm_embedding_near_dup, cosine >= 0.3 within label blocks) with
    the production capped-shingle Jaccard pairs
    (q_llm_ngram_jaccard_capped, word-4-gram >= 0.5), tagging each pair
    'both' / 'embedding_only' / 'shingle_only'. This is the audit a
    pipeline operator runs to decide WHICH dedup passes a corpus needs
    — the SemDeDup paper's motivation (paraphrases/re-encodes are
    invisible to shingles; boilerplate-only overlap is invisible to
    embeddings) made measurable on the fixtures. The fixture id space
    is shared (doc_id and vec_id both 0..N-1 — the q_llm_triplet_eval
    contract), which is what makes the pair-level join meaningful.
    Both input chains are independently exact-oracle-gated, so the
    reconciliation inherits their arithmetic bit-for-bit; the outer
    join adds one shuffle on the (tiny) pair tables. Fixture note: the
    cosine threshold is 0.3 (near-orthogonal synthetic vectors, max
    pairwise ~0.48); real corpora would run ~0.95."""
    emb_p = q_llm_embedding_near_dup(spark, sf_dir)
    jac_p = q_llm_ngram_jaccard_capped(spark, sf_dir)
    joined = emb_p.join(jac_p, ["id_a", "id_b"], "full_outer")
    return joined.select(
        "id_a",
        "id_b",
        "cos_sim",
        "jaccard",
        F.when(
            F.col("cos_sim").isNotNull() & F.col("jaccard").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("cos_sim").isNotNull(), F.lit("embedding_only"))
        .otherwise(F.lit("shingle_only"))
        .alias("found_by"),
    )


@query("q_llm_ivfpq_topk")  # two nested iterative quantizers — rows-only
def q_llm_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the composition FAISS ships as its production
    index and the fourth ANN family beside sign-LSH, IVF-Flat and
    plain PQ: an adaptive √corpus-cell coarse quantizer restricts each
    probe to its 4 nearest cells, and inside them candidates are
    scored by asymmetric distance over RESIDUAL product codes (vec −
    cell centroid; residuals cluster tighter, so the same m=8 / k=16
    codebook budget quantizes finer than raw-vector PQ). Raw corpus
    vectors never move at query time — the probe side carries
    broadcast ADC tables, the corpus side only its m byte-sized codes
    within probed cells. Rows-only (nested iterative k-means);
    self-retrieval, planted-duplicate and cell-pruning invariants in
    tests/test_llm_ops.py."""
    from kafka_streams_clojure_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_probe=4, m=8, ks=16
    )


@query("q_llm_ivfpq_serve")  # iterative quantizer training — rows-only
def q_llm_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index-REUSE serving (r8 verdict #2) — the 100 TB shape
    `q_llm_ivfpq_topk` deliberately doesn't show: train the quantizers
    ONCE (`ivfpq_build`), persist the three index tables to parquet
    (centroids √N rows, codebooks m·ks rows, codes m fixed-width rows
    per vector — the only ∝N table, partitioned by coarse cell), then
    serve REPEATED probe batches against the standing index
    (`ivfpq_search`) without ever touching the training path again.
    Per batch the work is one broadcast-centroid probe assignment +
    broadcast ADC tables + a (cell, sub, code) equi-join into probed
    cells only — the corpus is never rescanned, raw vectors never move.

    Rows-only (nested iterative k-means training); the invariant test
    (tests/test_llm_ops.py::test_ivfpq_serve_matches_retrain) pins that
    serving from the persisted store returns results IDENTICAL to the
    retrain-per-call `ivfpq_topk` on the same probes — training is
    deterministic on a fixed corpus, so the parquet round-trip is the
    only new moving part, exactly what this key exists to exercise."""
    import os

    from kafka_streams_clojure_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_search,
    )
    from kafka_streams_clojure_spark.streaming import scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    root = scratch_dir("kscs_ivfpq_idx_")
    cents, books, codes = ivfpq_build(emb, m=8, ks=16)
    cents.write.mode("overwrite").parquet(os.path.join(root, "cents"))
    books.write.mode("overwrite").parquet(os.path.join(root, "books"))
    # the ∝N table: partitioned by coarse cell, exactly how the probe
    # join reads it (partition pruning at scale)
    codes.write.mode("overwrite").partitionBy("__ivf_cell").parquet(
        os.path.join(root, "codes")
    )
    cents_s = spark.read.parquet(os.path.join(root, "cents"))
    books_s = spark.read.parquet(os.path.join(root, "books"))
    codes_s = spark.read.parquet(os.path.join(root, "codes"))

    # r13 (guide §2.4 — the band-curve fusion recipe): the three probe
    # batches [0,5), [5,10), [10,15) are disjoint and every search
    # computation is per-probe (assignment, ADC table, window all keyed
    # by probe_id), so ONE search over the union is row-identical to
    # the per-batch union of three searches — 1/3 the plan and jobs.
    # The batch tag is recomputed from the id range it encodes.
    probes = emb.filter((F.col("vec_id") >= 0) & (F.col("vec_id") < 15))
    return ivfpq_search(
        cents_s, books_s, codes_s, probes, k=5, n_probe=4, m=8
    ).withColumn("batch", F.expr("CAST(probe_id div 5 AS INT)"))


@query("q_llm_ivfpq_append")  # iterative quantizer training — rows-only
def q_llm_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF-PQ maintenance (r11 verdict #3) — the missing
    half of the serving story: `q_llm_ivfpq_serve` reuses a standing
    index across probe batches; this key GROWS one. New vectors are
    assigned + residual-encoded against the FROZEN coarse quantizer
    and codebooks (`ivfpq_append` — exactly the build's own kernels,
    no retraining, corpus never rescanned) and their code rows are
    unioned onto the standing codes table; the search then runs over
    the merged index. Rows-only (nested iterative k-means); the
    invariant test (tests/test_llm_ops.py::
    test_ivfpq_append_matches_frozen_rebuild) pins bit-equality
    between search-after-append and search after a full re-encode of
    corpus ∪ delta with the same frozen quantizer/codebooks. The
    when-to-retrain-instead question is `q_llm_ivfpq_drift`."""
    from kafka_streams_clojure_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_build,
        ivfpq_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    hist = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    cents, books, codes = ivfpq_build(hist, m=8, ks=16)
    merged = codes.unionByName(ivfpq_append(delta, cents, books, m=8))
    probes = emb.filter(F.col("vec_id") < 5)
    return ivfpq_search(cents, books, merged, probes, k=5, n_probe=4, m=8)


_SQL_VEC_EXPLODED = """
      SELECT vec_id,
             unnest(generate_series(0, len(embedding) - 1)) AS dim,
             unnest(embedding) AS x
      FROM embeddings
"""


@query(
    "q_llm_ivfpq_drift",
    oracle=f"""
    WITH ex AS ({_SQL_VEC_EXPLODED}),
    tr AS (
      SELECT dim, {_SQL_F32_MEAN} AS mean_x,
             CAST(min(x) AS DOUBLE) AS min_x,
             CAST(max(x) AS DOUBLE) AS max_x
      FROM ex WHERE vec_id % 5 <> 0 GROUP BY dim
    ),
    de AS (
      SELECT dim, {_SQL_F32_MEAN} AS mean_x
      FROM ex WHERE vec_id % 5 = 0 GROUP BY dim
    ),
    sc AS (
      SELECT tr.dim,
             CASE WHEN (tr.max_x - tr.min_x) > 0e0
                  THEN abs(de.mean_x - tr.mean_x) / (tr.max_x - tr.min_x)
                  WHEN abs(de.mean_x - tr.mean_x) > 0e0 THEN 1e0
                  ELSE 0e0 END AS shift
      FROM de JOIN tr ON de.dim = tr.dim
    )
    SELECT CAST(count(*) AS BIGINT) AS n_dims,
           CAST(count(*) FILTER (WHERE shift > 0.05e0) AS BIGINT) AS n_drifted,
           max(shift) AS max_shift,
           (CAST(count(*) FILTER (WHERE shift > 0.05e0) AS DOUBLE)
            > 0.25e0 * CAST(count(*) AS DOUBLE)) AS retrain
    FROM sc
    """,
)
def q_llm_ivfpq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRAIN TRIGGER for the incremental IVF-PQ index
    (`q_llm_ivfpq_append`'s other half): per-dimension stats of the
    ingest delta vs the train-time snapshot (the q_llm_dim_stats
    monitor reused as the drift sensor, r11 verdict #3). Drift is the
    RANGE-normalized mean shift — |Δmean| / (train max − min) — so
    every column is oracle-exact (tie-guarded DECIMAL(28,8) f32-means,
    exact order-statistic ranges; a σ-normalized shift would put x²
    through a decimal cast at the f64 tie floor). One posexplode +
    two (dim)-keyed aggregates on metadata-width tables; the verdict
    row is free per append batch. Degenerate zero-range dims count as
    drifted only if the mean actually moved (guarded /0 on both
    engines)."""
    from kafka_streams_clojure_spark.operators.similarity import (
        dim_stats,
        ivfpq_drift,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    tr = dim_stats(emb.filter(F.col("vec_id") % 5 != 0))
    de = dim_stats(emb.filter(F.col("vec_id") % 5 == 0))
    return ivfpq_drift(de, tr, shift_threshold=0.05, drifted_dims_frac=0.25)


@query(
    "q_llm_isotropy",
    oracle="""
    WITH comp AS (
      SELECT vec_id,
             unnest(generate_series(0, len(embedding) - 1)) AS dim,
             unnest(embedding) AS c
      FROM embeddings
    ),
    cd AS (SELECT vec_id, dim, CAST(c AS DOUBLE) AS v FROM comp),
    g AS (SELECT max(abs(v)) AS gmax FROM cd),
    q AS (SELECT vec_id, dim,
                 CAST(floor(v / gmax * 127.0e0) AS BIGINT) AS qv
          FROM cd, g),
    dims AS (SELECT dim, CAST(sum(qv) AS BIGINT) AS s FROM q GROUP BY dim),
    gram AS (SELECT CAST(sum(s * s) AS BIGINT) AS sum_s2 FROM dims),
    tot AS (SELECT CAST(sum(qv * qv) AS BIGINT) AS ssq,
                   count(DISTINCT vec_id) AS n_vecs
            FROM q)
    SELECT n_vecs,
           CASE WHEN n_vecs > 1 THEN
             CAST(sum_s2 - ssq AS DOUBLE)
               / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))
           END AS mean_pair_dot_q,
           CASE WHEN n_vecs > 0 THEN
             CAST(ssq AS DOUBLE) / CAST(n_vecs AS DOUBLE)
           END AS mean_sq_norm_q,
           CASE WHEN n_vecs > 1 AND ssq > 0 THEN
             (CAST(sum_s2 - ssq AS DOUBLE)
               / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE)))
               / (CAST(ssq AS DOUBLE) / CAST(n_vecs AS DOUBLE))
           END AS isotropy_ratio
    FROM tot, gram
    """,
)
def q_llm_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space ISOTROPY estimate (Ethayarajh 2019's anisotropy
    health check: is the embedding model collapsing toward a dominant
    direction?) computed WITHOUT a pair join via the Gram-sum identity

        sum_{i != j} <v_i, v_j>  =  || sum_i v_i ||^2  -  sum_i ||v_i||^2

    so the mean pairwise dot product of N vectors is ONE corpus pass
    (a per-dimension sum + a global sum of squares), never N^2 pairs —
    at 100 TB this is the difference between running the monitor daily
    and not running it at all. `isotropy_ratio` = mean pairwise dot /
    mean squared norm: ~0 for an isotropic cloud, -> 1 as the space
    collapses onto one direction.

    Float discipline (CLAUDE.md double-sum rule): summing raw f32
    components in double is partial-agg-order dependent, so components
    are first quantized to integers — qv = floor(v / gmax * 127) with
    gmax the corpus max |component| (broadcast 1-row). `a / b * c` over
    identical doubles is IEEE-deterministic and floor of the same
    double is the same integer on both engines, so every downstream
    sum is EXACT int64 arithmetic until the final divisions
    (int64 holds to N ~ 7.5e8 vectors; beyond that widen the dim sums
    to DECIMAL(38,0) — the q_events_burstiness precedent). Shuffle:
    one (dim)-keyed agg of 64 rows + two 1-row aggregates; the
    monitor's answer is quantized-dot units, which cancel in the
    ratio up to quantization error."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "c")
    ).select("vec_id", "dim", F.col("c").cast("double").alias("v"))
    g = comp.agg(F.max(F.abs(F.col("v"))).alias("gmax"))
    q = persist_if_uncached(
        comp.crossJoin(F.broadcast(g)).select(
            "vec_id",
            "dim",
            F.floor(F.col("v") / F.col("gmax") * F.lit(127.0))
            .cast("bigint")
            .alias("qv"),
        )
    )
    dims = q.groupBy("dim").agg(F.sum("qv").alias("s"))
    gram = dims.agg(F.sum(F.col("s") * F.col("s")).alias("sum_s2"))
    tot = q.agg(
        F.sum(F.col("qv") * F.col("qv")).alias("ssq"),
        F.countDistinct("vec_id").alias("n_vecs"),
    )
    # degenerate-fixture guards (r9 advice, the q_llm_top_direction den>0
    # discipline): a 1-vector corpus zeroes the pair denominator (Spark /0
    # -> NULL vs DuckDB inf) and an all-zero corpus zeroes mean_sq — CASE
    # the n_vecs>1 and ssq>0 conditions identically on both engines.
    raw_pair = (F.col("sum_s2") - F.col("ssq")).cast("double") / (
        F.col("n_vecs").cast("double") * (F.col("n_vecs") - 1).cast("double")
    )
    raw_sq = F.col("ssq").cast("double") / F.col("n_vecs").cast("double")
    mean_pair = F.when(F.col("n_vecs") > 1, raw_pair)
    mean_sq = F.when(F.col("n_vecs") > 0, raw_sq)
    ratio = F.when(
        (F.col("n_vecs") > 1) & (F.col("ssq") > 0), raw_pair / raw_sq
    )
    return tot.crossJoin(F.broadcast(gram)).select(
        "n_vecs",
        mean_pair.alias("mean_pair_dot_q"),
        mean_sq.alias("mean_sq_norm_q"),
        ratio.alias("isotropy_ratio"),
    )


@query(
    "q_llm_dedup_threshold_curve",
    oracle=f"""
    WITH {_JACCARD_CAPPED_CTES},
    jall AS (
      SELECT id_a, id_b,
             CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter)
               AS jaccard
      FROM inter_c
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ),
    t AS (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9]) AS t10)
    SELECT t10,
           count(*) AS n_pairs,
           count(DISTINCT id_b) AS n_docs_flagged
    FROM jall JOIN t ON jaccard >= CAST(t10 AS DOUBLE) / 10.0e0
    GROUP BY t10
    """,
)
def q_llm_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD-SENSITIVITY curve: for each Jaccard cut t in
    {0.2 .. 0.9}, how many capped-shingle pairs qualify and how many
    docs would the greedy keep-first rule flag (a doc is flagged iff it
    is the GREATER id of >= 1 qualifying pair — the upper bound the
    transitive-closure clusters key refines). This is the knob-setting
    audit an operator runs BEFORE committing a threshold to a 100 TB
    dedup pass: a cliff between adjacent cuts means the corpus has a
    near-dup band the threshold is slicing through.

    Cost: the candidate pair table is built ONCE (the same
    stop-shingle-capped shared-shingle equi-join as
    q_llm_ngram_jaccard_capped — never docs²) and each pair fans out
    to the 8-row broadcast threshold table; the whole curve costs one
    near-dup run + an 8x pair-table scan, not 8 runs. Threshold
    compares are engine-exact: both engines compute jaccard as the
    identical int/int double division and t/10 as the identical
    int->double division."""
    docs = load_table(spark, sf_dir, "documents")
    # pre-filter at the curve's LOWEST cut (0.2 = t10=2/10.0, the same
    # double both sides): sub-0.2 pairs can't match any threshold row,
    # so dropping them before the 8-row fan-out is output-identical and
    # skips fanning out the long sub-threshold tail
    pairs = ngram_jaccard_pairs(
        docs, k=4, threshold=0.2, max_doc_freq=_STOP_SHINGLE_CAP
    )
    t = spark.range(2, 10).select(F.col("id").cast("int").alias("t10"))
    thr = F.col("t10").cast("double") / F.lit(10.0)
    return (
        pairs.join(F.broadcast(t), F.col("jaccard") >= thr)
        .groupBy("t10")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("id_b").alias("n_docs_flagged"),
        )
    )


@query(
    "q_llm_ccnet_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKL}) AS w FROM documents
    ),
    wf AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM tok GROUP BY w),
    c AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(CAST(sum(wf.n_w) AS DOUBLE) / count(*) AS DOUBLE)
               AS commonness
      FROM tok t JOIN wf ON wf.w = t.w
      GROUP BY t.doc_id
    ),
    nn AS (SELECT count(*) AS n_docs FROM c),
    r AS (SELECT doc_id, n_tokens, commonness,
                 row_number() OVER (ORDER BY commonness DESC, doc_id) - 1
                   AS rnk
          FROM c),
    b AS (SELECT CASE ((rnk * 3) // n_docs)
                   WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
                 END AS bucket,
                 n_tokens, commonness
          FROM r, nn)
    SELECT bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(commonness) AS min_score,
           max(commonness) AS max_score
    FROM b GROUP BY bucket
    """,
)
def q_llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style QUALITY BUCKETS (Wenzek et al. 2020: split the crawl
    into head/middle/tail by LM perplexity, train on head+middle,
    audit tail): docs ranked by the division-only perplexity stand-in
    (q_llm_commonness — high commonness = fluent common-token text,
    the low-perplexity analog) and cut into exact TERCILES by global
    rank, reporting each bucket's doc count, token mass and score
    range — the table a curation run reads before deciding which
    buckets to keep.

    Exactness: scores are one int/int double division (identical both
    engines); bucket boundaries are integer rank arithmetic
    (rank*3 div N) over the doc_id-tiebroken total order, so
    membership is engine-exact even where scores tie. Plan: the
    vocabulary-sized frequency join (q_llm_commonness's shape), then
    ranks from the parallel global_index idiom — range partition +
    broadcast prefix counts, no single-task sort — and the corpus
    count rides as a broadcast 1-row side."""
    from kafka_streams_clojure_spark.operators.order import global_index

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    )
    wf = tok.groupBy("w").agg(F.count("*").cast("bigint").alias("n_w"))
    c = (
        tok.join(wf, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            (F.sum("n_w").cast("double") / F.count("*"))
            .cast("double")
            .alias("commonness"),
        )
    )
    nn = c.agg(F.count("*").alias("n_docs"))
    r = global_index(
        c, [F.col("commonness").desc(), F.col("doc_id")], idx_col="rnk"
    )
    tercile = F.expr("(rnk * 3) div n_docs")
    b = r.crossJoin(F.broadcast(nn)).select(
        F.when(tercile == 0, "head")
        .when(tercile == 1, "middle")
        .otherwise("tail")
        .alias("bucket"),
        "n_tokens",
        "commonness",
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("commonness").alias("min_score"),
        F.max("commonness").alias("max_score"),
    )


@query(
    "q_llm_gopher_rules",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOK} AS t, {_TOKL} AS tl FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(t) AS n_tok,
             len(list_distinct(tl)) AS n_distinct,
             length(regexp_replace(array_to_string(t, ''), '\\s', '', 'g'))
               AS n_chars,
             len(list_filter(t, w -> regexp_matches(w, '^[a-zA-Z]+$')))
               AS n_alpha,
             len(list_filter(tl,
                 w -> list_contains(['the','and','of','to','in','is','that',
                                     'for','with','as','a','an','it','on',
                                     'be','are','was'], w))) AS n_stop
      FROM d
    ),
    flags AS (
      SELECT doc_id,
             (n_tok >= 20 AND n_tok <= 1000)                  AS r_word_count,
             (3 * n_tok <= n_chars AND n_chars <= 10 * n_tok) AS r_mean_word_len,
             (n_stop >= 2)                                    AS r_stopwords,
             (10 * (n_tok - n_distinct) <= 3 * n_tok)         AS r_dup_tokens,
             (5 * n_alpha >= 4 * n_tok)                       AS r_alpha_frac
      FROM m
    )
    SELECT 'word_count' AS rule,
           CAST(count(*) FILTER (WHERE r_word_count) AS BIGINT) AS n_pass,
           CAST(count(*) FILTER (WHERE NOT r_word_count) AS BIGINT) AS n_fail
    FROM flags
    UNION ALL
    SELECT 'mean_word_len',
           CAST(count(*) FILTER (WHERE r_mean_word_len) AS BIGINT),
           CAST(count(*) FILTER (WHERE NOT r_mean_word_len) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 'stopwords',
           CAST(count(*) FILTER (WHERE r_stopwords) AS BIGINT),
           CAST(count(*) FILTER (WHERE NOT r_stopwords) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 'dup_tokens',
           CAST(count(*) FILTER (WHERE r_dup_tokens) AS BIGINT),
           CAST(count(*) FILTER (WHERE NOT r_dup_tokens) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 'all_rules',
           CAST(count(*) FILTER (WHERE r_word_count AND r_mean_word_len
                 AND r_stopwords AND r_dup_tokens AND r_alpha_frac)
                AS BIGINT),
           CAST(count(*) FILTER (WHERE NOT (r_word_count AND r_mean_word_len
                 AND r_stopwords AND r_dup_tokens AND r_alpha_frac))
                AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 'alpha_frac',
           CAST(count(*) FILTER (WHERE r_alpha_frac) AS BIGINT),
           CAST(count(*) FILTER (WHERE NOT r_alpha_frac) AS BIGINT)
    FROM flags
    """,
)
def q_llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOPHER RULE REPORT (Rae et al. 2021 §A1.1 quality heuristics,
    thresholds adapted to the fixture's length range): per-rule
    pass/fail document counts for word count bounds, mean word length
    in [3,10], >= 2 stopwords, duplicate-token ratio <= 0.3 and
    alphabetic-token fraction >= 0.8, plus the all-rules conjunction —
    the tuning table an operator reads per corpus slice BEFORE
    committing thresholds (beside q_llm_quality_score's per-doc
    composite and q_llm_repetition's Gopher repetition signals).

    Every rule is an INTEGER comparison (ratio thresholds
    cross-multiplied: chars/tok in [3,10] becomes 3·tok <= chars <=
    10·tok) so pass/fail is engine-exact with no float anywhere.
    Plan: ONE corpus scan computes all five flags map-side (array
    higher-order counts, no explode/shuffle), one aggregate row,
    6-row stack unpivot — the q_llm_filter_funnel discipline."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), r"\s+")
    tl = F.split(F.lower("text"), r"\s+")
    stop = F.array(*[F.lit(w) for w in TX.STOPWORDS_EN])
    m = docs.select(
        F.size(t).alias("n_tok"),
        F.size(F.array_distinct(tl)).alias("n_distinct"),
        F.length(F.regexp_replace(F.array_join(t, ""), r"\s", "")).alias(
            "n_chars"
        ),
        F.size(
            F.filter(t, lambda w: w.rlike("^[a-zA-Z]+$"))
        ).alias("n_alpha"),
        F.size(F.filter(tl, lambda w: F.array_contains(stop, w))).alias(
            "n_stop"
        ),
    )
    flags = m.select(
        ((F.col("n_tok") >= 20) & (F.col("n_tok") <= 1000)).alias("r_wc"),
        (
            (3 * F.col("n_tok") <= F.col("n_chars"))
            & (F.col("n_chars") <= 10 * F.col("n_tok"))
        ).alias("r_mwl"),
        (F.col("n_stop") >= 2).alias("r_sw"),
        (
            10 * (F.col("n_tok") - F.col("n_distinct")) <= 3 * F.col("n_tok")
        ).alias("r_dup"),
        (5 * F.col("n_alpha") >= 4 * F.col("n_tok")).alias("r_alpha"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    allr = (
        F.col("r_wc")
        & F.col("r_mwl")
        & F.col("r_sw")
        & F.col("r_dup")
        & F.col("r_alpha")
    )
    agg = flags.agg(
        cnt(F.col("r_wc")).alias("p_wc"),
        cnt(~F.col("r_wc")).alias("f_wc"),
        cnt(F.col("r_mwl")).alias("p_mwl"),
        cnt(~F.col("r_mwl")).alias("f_mwl"),
        cnt(F.col("r_sw")).alias("p_sw"),
        cnt(~F.col("r_sw")).alias("f_sw"),
        cnt(F.col("r_dup")).alias("p_dup"),
        cnt(~F.col("r_dup")).alias("f_dup"),
        cnt(F.col("r_alpha")).alias("p_alpha"),
        cnt(~F.col("r_alpha")).alias("f_alpha"),
        cnt(allr).alias("p_all"),
        cnt(~allr).alias("f_all"),
    )
    return agg.selectExpr(
        "stack(6, "
        "'word_count', p_wc, f_wc, "
        "'mean_word_len', p_mwl, f_mwl, "
        "'stopwords', p_sw, f_sw, "
        "'dup_tokens', p_dup, f_dup, "
        "'alpha_frac', p_alpha, f_alpha, "
        "'all_rules', p_all, f_all) AS (rule, n_pass, n_fail)"
    )


@query(
    "q_multimodal_audio_near_dup",
    oracle="""
    WITH ks AS (SELECT unnest(range(65)) AS k),
    lv AS (
      SELECT d.doc_id, ks.k,
             CAST(('0x' || substr(md5(coalesce(d.text, '') || '#' || ks.k),
                                  1, 4)) AS BIGINT) % 192 + 32 AS lv
      FROM documents d, ks
    ),
    bits AS (
      SELECT l.doc_id, l.k, CASE WHEN l.lv > r.lv THEN 1 ELSE 0 END AS bit
      FROM lv l JOIN lv r ON r.doc_id = l.doc_id AND r.k = l.k + 1
      WHERE l.k < 64
    ),
    hashes AS (
      SELECT doc_id, k // 16 AS band,
             SUM(bit * (CAST(1 AS BIGINT) << (k % 16))) AS hb
      FROM bits GROUP BY doc_id, k // 16
    ),
    -- stride-aligned grid: the 2x-decimated re-encode samples the SAME
    -- segment starts, so its eHash equals the original's
    vids AS (
      SELECT doc_id + var * 10000000 AS vid, band, hb
      FROM hashes, (SELECT unnest([0, 1]) AS var)
    ),
    cands AS (
      SELECT DISTINCT x.vid AS id_a, y.vid AS id_b
      FROM vids x JOIN vids y ON y.band = x.band AND y.hb = x.hb
                             AND x.vid < y.vid
    ),
    ham AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(bit_count(xor(xa.hb, xb.hb))) AS BIGINT) AS hamming
      FROM cands c
      JOIN vids xa ON xa.vid = c.id_a
      JOIN vids xb ON xb.vid = c.id_b AND xb.band = xa.band
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 2
    """,
)
def q_multimodal_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-dup via perceptual hashing — the audio member of the
    media near-dup family beside `q_multimodal_near_dup`'s image dHash:
    each doc renders as a deterministic STEPPED-tone WAV (65 md5-derived
    constant levels × 4 samples — perceptual hashes are meaningless on
    the raw-byte noise of text_to_wav_blobs), the corpus is originals ∪
    their 2×-decimated RE-ENCODES (vid + 10M: a real transcode whose
    bytes, frame count and md5 all differ), every blob is eHashed from
    its DECODED samples (65 grid points → 64 difference bits in four
    16-bit bands, operators/multimodal.ehash_wav), and pairs within
    Hamming 2 surface through the SAME exact Hamming-band blocking
    operator as images (phash_near_dup_pairs — pigeonhole, no recall
    loss, never blobs²).

    Exactly ORACLE-gated end-to-end: levels are an integer fold of
    md5(text||'#k') and the even segment length makes every grid
    position (k·n)//65 survive the 2× stride, so DuckDB recomputes both
    variants' full 64-bit hashes, the banding join and the Hamming
    filter from the text alone — codec, transcode, hash and blocking
    all value-checked. Scale: hash table 5 longs/row, candidates
    id-width, `max_bucket` loud-fail inherited."""
    from kafka_streams_clojure_spark.operators.multimodal import (
        decimate_wavs,
        ehash_wavs,
        phash_near_dup_pairs,
        stepped_wav_blobs,
    )

    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    docs = load_table(spark, sf_dir, "documents")
    # consumed twice (union branch + decimate input): persist so the
    # 65-md5/row level computation + render run once (cold-wall
    # measured, r13 — see OPTIMIZATION_r13.md)
    orig = persist_if_uncached(stepped_wav_blobs(docs))
    transcoded = decimate_wavs(orig, "blob", factor=2).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    corpus = orig.unionByName(transcoded)
    hashes = ehash_wavs(corpus, "blob", id_col="doc_id")
    return phash_near_dup_pairs(hashes, id_col="vid", max_hamming=2)


@query(
    "q_llm_dsir_select",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {_SQL_BUCKET} AS bucket, {_TOKL} AS tl FROM documents
    ),
    tok AS (SELECT doc_id, bucket, unnest(tl) AS w FROM b),
    tf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS tcnt
      FROM tok WHERE bucket < 5 GROUP BY w
    ),
    rf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS rcnt
      FROM tok WHERE bucket >= 5 GROUP BY w
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(sum((1000 * coalesce(tf.tcnt, 0)) // rf.rcnt) AS BIGINT)
               AS affinity,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM tok t
      JOIN rf ON rf.w = t.w
      LEFT JOIN tf ON tf.w = t.w
      WHERE t.bucket >= 5
      GROUP BY t.doc_id
    )
    SELECT doc_id, affinity, n_tokens
    FROM scored ORDER BY affinity DESC, doc_id LIMIT 20
    """,
)
def q_llm_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score each RAW-pool
    document by how much its token distribution looks like the TARGET
    domain (here the md5-bucket<5 slice — the same deterministic split
    q_llm_decontaminate/eval_split use), then keep the top of the
    ranking. The classic weight is Σ log(p_target/p_raw); logs are
    libm-banned on oracle paths (CLAUDE.md), so the score is the
    INTEGERIZED ratio sum Σ (1000·tcnt(w)) // rcnt(w) over the doc's
    token positions — per-word importance quantized to thousandths by
    integer division, which both engines compute bit-identically (no
    float anywhere, so the whole ranking is exact; doc_id tiebreak
    pins the emitted top-20).

    Plan shape: one explode → two word-keyed frequency aggregates
    (target + raw) → word-keyed join back → doc-keyed rollup →
    TakeOrderedAndProject for the top-20. At 100 TB both frequency
    tables are vocabulary-sized (Zipf — far smaller than the corpus,
    broadcastable after a min-count cut) and the score join is the
    inverted-index shape q_llm_commonness already scales; DSIR's
    hashed-ngram variant replaces the word key with a hash-bucket key,
    exactly the xxhash64 wire discipline of the *_hashed twins."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        _bucket().alias("bucket"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
    )
    tf = (
        b.filter(F.col("bucket") < 5)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("tcnt"))
    )
    rf = (
        b.filter(F.col("bucket") >= 5)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("rcnt"))
    )
    scored = (
        b.filter(F.col("bucket") >= 5)
        .join(rf, "w")
        .join(tf, "w", "left")
        .fillna(0, subset=["tcnt"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("(1000 * tcnt) div rcnt"))
            .cast("bigint")
            .alias("affinity"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
    )
    return scored.orderBy(F.desc("affinity"), "doc_id").limit(20)


@query("q_llm_dsir_select_hashed")  # xxhash64 bucket key — rows-only
def q_llm_dsir_select_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION wire shape of q_llm_dsir_select — and the form
    the DSIR paper itself specifies (hashed n-gram features): the two
    frequency tables and the score join key on
    ``xxhash64(token) % 2^20`` instead of the raw token string, so at
    web scale every exchange past the tokenize is 8 bytes/row (the
    passage_dedup_hashed / substring_dedup_hashed wire discipline) and
    the feature space is fixed-width regardless of vocabulary growth.
    Collisions fold rare tokens into shared buckets — the paper's
    intended approximation; on the fixture vocabulary the 2^20 space is
    collision-free, so the rows-only gate
    (tests/test_llm_ops.py::test_dsir_hashed_matches_word_twin) first
    PROVES no collision occurred and then requires bit-identical
    output to the oracle-gated word twin. Rows-only: xxhash64 is
    engine-specific."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        _bucket().alias("bucket"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("__w"),
    ).select(
        "doc_id",
        "bucket",
        (F.xxhash64("__w") % F.lit(1 << 20)).alias("w"),
    )
    tf = (
        b.filter(F.col("bucket") < 5)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("tcnt"))
    )
    rf = (
        b.filter(F.col("bucket") >= 5)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("rcnt"))
    )
    scored = (
        b.filter(F.col("bucket") >= 5)
        .join(rf, "w")
        .join(tf, "w", "left")
        .fillna(0, subset=["tcnt"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("(1000 * tcnt) div rcnt"))
            .cast("bigint")
            .alias("affinity"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
    )
    return scored.orderBy(F.desc("affinity"), "doc_id").limit(20)


@query(
    "q_llm_top_direction",
    oracle="""
    WITH comp AS (
      SELECT vec_id,
             unnest(generate_series(0, len(embedding) - 1)) AS dim,
             unnest(embedding) AS c
      FROM embeddings
    ),
    cd AS (SELECT vec_id, dim, CAST(c AS DOUBLE) AS v FROM comp),
    g AS (SELECT max(abs(v)) AS gmax FROM cd),
    q AS (SELECT vec_id, dim,
                 CAST(floor(v / gmax * 127.0e0) AS BIGINT) AS qv
          FROM cd, g),
    si AS (SELECT vec_id, CAST(sum(qv) AS BIGINT) AS s
           FROM q GROUP BY vec_id),
    v1 AS (SELECT dim, CAST(sum(q.qv * si.s) AS BIGINT) AS v1
           FROM q JOIN si USING (vec_id) GROUP BY dim),
    w AS (SELECT dim, v1 // 4096 AS w FROM v1),
    ti AS (SELECT vec_id, CAST(sum(q.qv * w.w) AS BIGINT) AS t
           FROM q JOIN w USING (dim) GROUP BY vec_id),
    v2 AS (SELECT dim, CAST(sum(q.qv * ti.t) AS BIGINT) AS v2
           FROM q JOIN ti USING (vec_id) GROUP BY dim),
    ray AS (SELECT sum(CAST(w.w AS HUGEINT) * v2.v2) AS num,
                   CAST(sum(w.w * w.w) AS BIGINT) AS den
            FROM w JOIN v2 USING (dim)),
    tr AS (SELECT CAST(sum(qv * qv) AS BIGINT) AS trace,
                  count(DISTINCT vec_id) AS n FROM q)
    SELECT n AS n_vecs,
           CASE WHEN den > 0
             THEN CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS DOUBLE)
           END AS lambda1_rayleigh,
           CASE WHEN den > 0
             THEN CAST((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                       / CAST(trace AS DOUBLE) AS DOUBLE)
           END AS top_dir_share
    FROM ray, tr
    """,
)
def q_llm_top_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMINANT-DIRECTION energy of the embedding space by
    deterministic POWER ITERATION — the directional complement of
    `q_llm_isotropy` (which measures collapse magnitude, this locates
    how much variance the single top direction carries): 1.5 integer
    power-iteration rounds of C = Σ q qᵀ from the all-ones seed
    (v1 = Σ qᵢ(qᵢ·1), rescale by an exact `div 4096`, v2 = Σ qᵢ(qᵢ·w)),
    then the Rayleigh quotient wᵀv2/wᵀw — a lower bound on λ₁ that the
    iteration sharpens — and its share of trace(C) = Σ‖q‖². Share →
    1/dims for an isotropic cloud, → 1 as the space collapses onto one
    direction (the mean-subtraction-free anisotropy diagnostic of
    Ethayarajh 2019 / Mu & Viswanath 2018's dominant common direction).

    Exactness: the q_llm_isotropy floor-quantization makes every
    iterate an exact integer; the one magnitude that exceeds int64
    (wᵀv2 ≈ 5e23) widens to DECIMAL(38,0)/HUGEINT products — the
    q_events_burstiness discipline — and converts to double ONCE; the
    rescale is integer `div`, deterministic on both engines, and the
    den>0 ratio guard is CASE'd identically. (Standard power-iteration
    caveat: a seed exactly orthogonal to the top eigenvector would
    stall — measure-zero, and deterministic on a fixed corpus.)

    Plan: FIVE passes over the quantized exploded table (persisted),
    each a key-width aggregate — per-vec dots are vec-keyed aggs, the
    64-row direction iterates ride as broadcasts. No N² anywhere; at
    100 TB this is the same shuffle family as the label-centroid key,
    ×2 rounds."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "c")
    ).select("vec_id", "dim", F.col("c").cast("double").alias("v"))
    g = comp.agg(F.max(F.abs(F.col("v"))).alias("gmax"))
    q = persist_if_uncached(
        comp.crossJoin(F.broadcast(g)).select(
            "vec_id",
            "dim",
            F.floor(F.col("v") / F.col("gmax") * F.lit(127.0))
            .cast("bigint")
            .alias("qv"),
        )
    )
    si = q.groupBy("vec_id").agg(F.sum("qv").cast("bigint").alias("s"))
    v1 = (
        q.join(si, "vec_id")
        .groupBy("dim")
        .agg(F.sum(F.col("qv") * F.col("s")).cast("bigint").alias("v1"))
    )
    w = v1.select("dim", F.expr("v1 div 4096").alias("w"))
    ti = (
        q.join(F.broadcast(w), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("qv") * F.col("w")).cast("bigint").alias("t"))
    )
    v2 = (
        q.join(ti, "vec_id")
        .groupBy("dim")
        .agg(F.sum(F.col("qv") * F.col("t")).cast("bigint").alias("v2"))
    )
    ray = (
        w.join(v2, "dim")
        .agg(
            F.sum(
                F.col("w").cast("decimal(19,0)")
                * F.col("v2").cast("decimal(19,0)")
            ).alias("num"),
            F.sum(F.col("w") * F.col("w")).cast("bigint").alias("den"),
        )
    )
    tr = q.agg(
        F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("trace"),
        F.countDistinct("vec_id").alias("n_vecs"),
    )
    lam = F.col("num").cast("double") / F.col("den").cast("double")
    return ray.crossJoin(F.broadcast(tr)).select(
        "n_vecs",
        F.when(F.col("den") > 0, lam).alias("lambda1_rayleigh"),
        F.when(F.col("den") > 0, lam / F.col("trace").cast("double")).alias(
            "top_dir_share"
        ),
    )


_COS_EXPR = """list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"""


@query(
    "q_llm_semdedup_threshold_curve",
    oracle=f"""
    WITH ep AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_EXPR} AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_COS_EXPR} >= 0.25e0
    ),
    t AS (SELECT unnest([25, 30, 35, 40, 45]) AS t100)
    SELECT t100,
           count(*) AS n_pairs,
           count(DISTINCT id_b) AS n_vecs_flagged
    FROM ep JOIN t ON cos_sim >= CAST(t100 AS DOUBLE) / 100.0e0
    GROUP BY t100
    """,
)
def q_llm_semdedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING-side threshold-sensitivity curve — the cosine twin
    of `q_llm_dedup_threshold_curve` (cuts 0.25..0.45 matched to the
    fixture's near-orthogonal cosine range; a real corpus sweeps
    0.90..0.99 around SemDeDup's 0.95): for each cut, qualifying pairs
    and greedily-flagged vectors from ONE build of the exact
    label-blocked cosine pair table (the q_llm_embedding_near_dup
    chain) fanned out to the broadcast 5-row threshold list. Together
    the two curves are the knob-setting audit for a MIXED dedup run —
    where the shingle cliff and the cosine cliff sit relative to each
    other decides which pass to tighten (the q_llm_dedup_reconcile
    question, answered before committing a 100 TB pass). Threshold
    compares are engine-exact: the cosine fold is the already-matched
    left-to-right arithmetic and t/100 is the identical int→double
    division; the 0.25 pre-filter equals the lowest cut, so the
    fan-out sees only curve-relevant pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_near_dups(emb, block_col="label", threshold=0.25)
    t = spark.range(25, 50, 5).select(F.col("id").cast("int").alias("t100"))
    thr = F.col("t100").cast("double") / F.lit(100.0)
    return (
        pairs.join(F.broadcast(t), F.col("cos_sim") >= thr)
        .groupBy("t100")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("id_b").alias("n_vecs_flagged"),
        )
    )


@query(
    "q_llm_record_linkage",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             substring(lower(text), 1, 30) AS sk,
             substring(text, 1, 60)        AS prefix,
             lang, source,
             n_chars // 100 AS band
      FROM documents
      WHERE strlen(text) = length(text)  -- ASCII guard (byte vs char levenshtein)
    ),
    idxed AS (
      SELECT doc_id, prefix, lang, source, band,
             row_number() OVER (ORDER BY sk, doc_id) - 1 AS idx
      FROM base
    ),
    scored AS (
      SELECT CASE WHEN lower(a.lang) = lower(b.lang) THEN 2 ELSE 0 END
           + CASE WHEN a.source = b.source THEN 1 ELSE 0 END
           + CASE WHEN a.band = b.band THEN 1 ELSE 0 END
           + CASE WHEN levenshtein(a.prefix, b.prefix) <= 5 THEN 3 ELSE 0 END
               AS score,
             CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
      FROM idxed a JOIN idxed b
        ON b.idx > a.idx AND b.idx <= a.idx + 4
    )
    SELECT CASE WHEN score >= 5 THEN 'match'
                WHEN score >= 3 THEN 'possible'
                ELSE 'non_match' END AS link_class,
           count(*) AS n_pairs,
           CAST(sum(edit_dist) AS BIGINT) AS total_edit_dist,
           CAST(min(score) AS INT) AS min_score,
           CAST(max(score) AS INT) AS max_score
    FROM scored
    GROUP BY 1
    """,
)
def q_llm_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD-LINKAGE classification (the Fellegi–Sunter decision rule
    with integer agreement weights — the log-likelihood weights of the
    1969 model quantized to points, keeping the oracle float-free):
    sorted-neighborhood candidates (the q_llm_sorted_neighborhood
    global-order blocking, exactly 4·n pairs) are scored per field —
    language +2, source +1, length band +1, prefix-Levenshtein ≤ 5
    +3 — and banded into match / possible / non-match, the triage a
    human-review queue consumes. Reports per-class pair counts, summed
    edit distance and the score range.

    Everything after the (already parallel) global order is integer
    comparisons, so the whole classification is engine-exact; the
    ASCII guard mirrors q_llm_edit_distance (Spark counts chars,
    DuckDB bytes). At 100 TB the candidate set stays window·n by
    construction — the cost profile of a sort, not a join."""
    from kafka_streams_clojure_spark.operators.dedup import sorted_neighborhood_pairs

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.octet_length("text") == F.length("text"))
        .select(
            "doc_id",
            F.substring(F.lower(F.col("text")), 1, 30).alias("__sk"),
            F.substring(F.col("text"), 1, 60).alias("__prefix"),
            "lang",
            "source",
            F.expr("n_chars div 100").alias("band"),
        )
    )
    pairs = sorted_neighborhood_pairs(
        docs,
        sort_cols=("__sk",),
        window=5,
        carry=("__prefix", "lang", "source", "band"),
    )
    lev = F.levenshtein(F.col("__prefix_a"), F.col("__prefix_b"))
    score = (
        F.when(F.lower("lang_a") == F.lower("lang_b"), 2).otherwise(0)
        + F.when(F.col("source_a") == F.col("source_b"), 1).otherwise(0)
        + F.when(F.col("band_a") == F.col("band_b"), 1).otherwise(0)
        + F.when(lev <= 5, 3).otherwise(0)
    )
    scored = pairs.select(
        score.alias("score"), lev.cast("int").alias("edit_dist")
    )
    klass = (
        F.when(F.col("score") >= 5, "match")
        .when(F.col("score") >= 3, "possible")
        .otherwise("non_match")
    )
    return scored.groupBy(klass.alias("link_class")).agg(
        F.count("*").alias("n_pairs"),
        F.sum("edit_dist").cast("bigint").alias("total_edit_dist"),
        F.min("score").cast("int").alias("min_score"),
        F.max("score").cast("int").alias("max_score"),
    )


@query(
    "q_llm_dedup_savings",
    oracle=f"""
    WITH {_JACCARD_CAPPED_CTES},
    flagged AS (SELECT DISTINCT id_b AS doc_id FROM jpairs_c),
    t AS (SELECT doc_id, source,
                 CAST(len({_TOK}) AS BIGINT) AS n_tokens
          FROM documents)
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(*) FILTER (WHERE f.doc_id IS NOT NULL) AS BIGINT)
             AS docs_flagged,
           CAST(coalesce(sum(t.n_tokens) FILTER (WHERE f.doc_id IS NOT NULL),
                         0) AS BIGINT) AS tokens_flagged
    FROM t LEFT JOIN flagged f USING (doc_id)
    GROUP BY t.source
    """,
)
def q_llm_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup SAVINGS report at the production cut — the compute-
    budget line item the threshold-curve audit feeds: per source, how
    many documents and how much TOKEN MASS the greedy keep-first rule
    would remove at jaccard >= 0.5 over the capped pair graph (the
    q_llm_ngram_jaccard_capped chain). The near-dup twin of
    q_llm_dup_inflation's exact-dup accounting: together they price
    both dedup passes in tokens — the unit training cost is billed in.
    Integer counts and sums only; flagged docs are the distinct
    greater-id pair members (the clusters key refines this to the
    transitive closure)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, k=4, threshold=0.5, max_doc_freq=_STOP_SHINGLE_CAP
    )
    flagged = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    return (
        t.join(flagged.withColumn("__f", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("__f").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_flagged"),
            F.coalesce(
                F.sum(F.when(F.col("__f").isNotNull(), F.col("n_tokens"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tokens_flagged"),
        )
    )


_BPE_CURVE_FINAL = "\n    UNION ALL\n".join(
    f"""SELECT {k} AS round,
           CAST(sum(freq) AS BIGINT) AS corpus_tokens,
           CAST(count(DISTINCT sym) AS BIGINT) AS vocab_used
    FROM t{k}"""
    for k in range(_BPE_ROUNDS + 1)
)


@query(
    "q_llm_bpe_curve",
    oracle=_bpe_merges_sql(_BPE_ROUNDS, _BPE_CURVE_FINAL),
)
def q_llm_bpe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer COMPRESSION CURVE: corpus token count and in-use
    symbol count after each BPE merge round (0 = character level) —
    the vocab-size-vs-sequence-length tradeoff table that sizes a
    tokenizer (every merge adds one symbol and removes pair_count
    tokens, so the curve's slope IS the merge table's counts; the flat
    tail says when to stop training). Shares the training chain with
    q_llm_bpe_merges/q_llm_bpe_encode VERBATIM — the oracle is the
    same unrolled CTE text with a per-level stats SELECT, the engine
    the same loop with per-level aggregates (`with_level_stats`), so
    the three keys cannot drift. Integer token masses (symbol rows
    weighted by word freq) keep it exact; per round the stats cost is
    one aggregate over the vocabulary-sized level table."""
    from kafka_streams_clojure_spark.operators.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    _, stats = bpe_merges(words, rounds=_BPE_ROUNDS, with_level_stats=True)
    return stats


# --- content-defined chunking dedup (r9 verdict #3) ---------------------

from kafka_streams_clojure_spark.operators.dedup import (  # noqa: E402
    cdc_chunks_sql_ctes,
    cdc_dedup_report,
)

_CDC_ORACLE = f"""
    WITH {cdc_chunks_sql_ctes()},
    marked AS (
      SELECT doc_id, chunk_len,
             count(*) OVER (PARTITION BY chunk_hash) AS cnt,
             row_number() OVER (PARTITION BY chunk_hash
                                ORDER BY doc_id, cs) AS rk
      FROM chunks
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN cnt > 1 AND rk > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_chunks,
             CAST(sum(CASE WHEN cnt > 1 AND rk > 1 THEN chunk_len ELSE 0 END)
                  AS BIGINT) AS dup_chars
      FROM marked GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
           CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars,
           b.len AS total_chars,
           CASE WHEN b.len > 0 THEN
             CAST(coalesce(dup_chars, 0) AS DOUBLE) / CAST(b.len AS DOUBLE)
           END AS dup_char_frac
    FROM base b LEFT JOIN per_doc USING (doc_id)
    """


@query("q_llm_cdc_chunks", oracle=_CDC_ORACLE)
def q_llm_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup report — the missing member of
    the exact-substring family (r9 verdict #3): rolling-hash chunk
    boundaries (operators/dedup.cdc_chunk_table: LBFS/FastCDC's gear
    idea with a locally-decidable fixed-window hash) make chunk
    identity survive byte insertion/deletion — a 1-char prefix edit
    shifts every fixed shingle but realigns CDC chunks after one
    window, so shifted duplication that `q_llm_exact_dedup` and
    position-fixed shingles miss is caught here (planted shifted-dup
    invariant in tests/test_llm_ops.py). Per doc: chunk count,
    duplicated-chunk count/chars under corpus keep-first, and the
    duplicated-char fraction (denominator CASE-guarded identically on
    both engines).

    Exactness: the boundary hash is ONE shared SQL text over exact
    int64 arithmetic (operators/dedup.cdc_hash_sql) and chunk identity
    is md5 of the chunk substring — every step bit-reproducible in
    DuckDB, so unlike production gear-CDC (chained state, clamped
    sizes) this stays exact-oracle-gated. Scale: codegen hash pass,
    one doc-keyed window on pinned partitioning, one chunk-hash
    shuffle at 16 B/row — no pair join, linear end to end."""
    docs = load_table(spark, sf_dir, "documents")
    return cdc_dedup_report(docs)


@query("q_llm_cdc_chunks_kernel", oracle=_CDC_ORACLE)
def q_llm_cdc_chunks_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION plan of `q_llm_cdc_chunks` (r10 verdict #3),
    gated by the SAME oracle: the rolling-hash boundary scan runs as an
    Arrow-batched numpy kernel (`operators/dedup.cdc_chunk_rows`) that
    emits CHUNK rows only — ~len/divisor per doc — so no char-granular
    row ever crosses a shuffle (the windowed twin exchanges ~8-16 B per
    corpus CHARACTER; SCALE.md measured 116.8 MB at the 10× fixture).
    The kernel is bit-identical to the windowed form on the fixtures
    AND codepoint-correct beyond the BMP where split("") sees UTF-16
    units (tests/test_llm_ops.py::test_cdc_kernel_astral_codepoints);
    md5 chunk identity keeps it exactly DuckDB-reproducible, which is
    why this production form carries a full oracle rather than the
    usual rows-only gate. Downstream report shape unchanged: one
    chunk-hash shuffle at 16 B/row, one doc-keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return cdc_dedup_report(docs, impl="kernel")


#: one definition for the sweep's settings — consumed by BOTH the
#: curve operator call and the reachability fan-out inside the query
#: (the _QUOTA_TOKENS no-drift discipline)
_ANN_PROBE_SETTINGS = (1, 2, 4, 8)


@query("q_llm_ann_probe_curve")  # iterative quantizer training — rows-only
def q_llm_ann_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN KNOB-SETTING CURVE (r9 verdict #4): the n_probe -> (recall,
    cost) tradeoff table that sizes an IVF-PQ deployment — the
    `q_llm_dedup_threshold_curve` discipline applied to serving. One
    index build (`ivfpq_build`), one candidate scoring pass at the
    largest setting, and the curve rows for n_probe ∈ {1,2,4,8} derive
    by cell-rank filtering (`operators/similarity.ivfpq_probe_curve` —
    equivalent to re-searching because a candidate's ADC distance is
    n_probe-independent). Recall is measured against the EXACT
    squared-L2 top-k over raw vectors (the metric ADC approximates);
    candidate mass is the cost axis (how many code rows were scored).

    Two recall columns, deliberately: ``cand_recall`` — the fraction
    of exact-top-k pairs REACHABLE in the candidate set — is monotone
    in n_probe by construction (candidate sets nest) and is the
    invariant-gated column; ``recall_at_k`` — end-to-end after ADC
    ranking — is the number a deployment actually gets but is NOT
    guaranteed monotone (a new cell's optimistically-quantized
    candidate can displace a true hit; measured 0.333→0.32 between
    n_probe 1 and 2 on this fixture), so it carries only a floor gate.

    Rows-only by design (nested iterative k-means training is not
    SQL-expressible); gated by monotone cand_recall + monotone cost +
    recall-floor invariants in tests/test_llm_ops.py. Output: one row
    per n_probe — (n_probe, n_cand, avg_cand_per_probe, hits,
    recall_at_k, cand_hits, cand_recall); recall denominator = k ×
    #probes (every probe has a full exact top-k on this fixture)."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached
    from kafka_streams_clojure_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_probe_curve,
        sq_l2,
    )

    k = 5
    emb = load_table(spark, sf_dir, "embeddings")
    probes = persist_if_uncached(emb.filter(F.col("vec_id") < 15))
    cents, books, codes = ivfpq_build(emb, m=8, ks=16)
    topk, mass, cand = ivfpq_probe_curve(
        cents, books, codes, probes, k=k, n_probes=_ANN_PROBE_SETTINGS, m=8
    )

    # exact squared-L2 ground truth: 15 broadcast probes × corpus, one
    # probe-keyed window — the brute-force baseline ADC approximates
    p = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("__pv")
    )
    wx = Window.partitionBy("probe_id").orderBy(F.col("__d2"), F.col("vec_id"))
    exact = (
        emb.crossJoin(F.broadcast(p))
        .select(
            "probe_id",
            "vec_id",
            sq_l2(F.col("embedding"), F.col("__pv")).alias("__d2"),
        )
        .withColumn("__r", F.row_number().over(wx))
        .filter(F.col("__r") <= k)
        .select("probe_id", "vec_id")
    )
    n_probe_rows = probes.count()
    exact = exact.localCheckpoint(eager=True)  # consumed by both joins
    hits = (
        topk.join(exact, ["probe_id", "vec_id"], "left_semi")
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    # reachability: an exact-top-k pair is CATCHABLE at n_probe=np iff
    # its candidate's home cell ranks <= np for that probe — min over
    # the (unique) matching candidate row, then a broadcast np fan-out
    reach = cand.join(exact, ["probe_id", "vec_id"], "left_semi")
    nps = spark.createDataFrame(
        [(n,) for n in _ANN_PROBE_SETTINGS], "n_probe int"
    )
    cand_hits = (
        reach.crossJoin(F.broadcast(nps))
        .filter(F.col("cell_rank") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cand_hits"))
    )
    denom = F.lit(float(k * n_probe_rows))
    return (
        mass.join(hits, "n_probe", "left")
        .join(cand_hits, "n_probe", "left")
        .select(
            "n_probe",
            "n_cand",
            (
                F.col("n_cand").cast("double") / F.lit(float(n_probe_rows))
            ).alias("avg_cand_per_probe"),
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
            (F.coalesce("hits", F.lit(0)).cast("double") / denom).alias(
                "recall_at_k"
            ),
            F.coalesce("cand_hits", F.lit(0)).cast("bigint").alias("cand_hits"),
            (F.coalesce("cand_hits", F.lit(0)).cast("double") / denom).alias(
                "cand_recall"
            ),
        )
    )


@query("q_llm_compress_ratio")  # zlib is not SQL-expressible — rows-only
def q_llm_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib COMPRESSION-RATIO quality signal (r9 verdict #6) — the
    classic boilerplate/repetition screen beside `q_llm_repetition` and
    `q_llm_gopher_rules`: templated/repetitive text compresses far
    below natural prose, high-entropy noise compresses above it, so
    the ratio is a one-column curation feature with no tokenizer and
    no model. Deterministic (fixed zlib level → fixed bytes) but not
    DuckDB-expressible → rows-only; gated by planted high/low-entropy
    invariants plus a corpus-level CROSS-CHECK against the oracle-gated
    repetition score (docs with high dup_token_ratio must compress
    better than the corpus median) in tests/test_llm_ops.py.

    Scale: one Arrow-batched `mapInPandas` scan (zlib in C, one Python
    call per batch), NO shuffle — runs at scan speed
    (operators/text.compress_ratio)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.compress_ratio(docs)


_N_EXPORT_SHARDS = 16


@query(
    "q_llm_shard_export",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))
                  AS BIGINT) % {_N_EXPORT_SHARDS} AS shard,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT shard, doc_id, n_tokens,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS seq
      FROM t
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(max(seq) AS BIGINT) AS max_seq
    FROM s GROUP BY shard
    """,
)
def q_llm_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data EXPORT SHARDING — the last step of the pipeline
    the other families prepare for: assign every curated doc to one of
    16 (`_N_EXPORT_SHARDS`) shards by a deterministic content-independent
    hash (md5 chars 9-16 of doc_id — a DIFFERENT hash window than the
    eval/variant split `_SQL_BUCKET` uses, so shard and split are
    independent; same-doc always lands in the same shard across reruns
    — resumable exports), give each doc a stable within-shard sequence
    number (doc_id order — the deterministic shuffle-free ordering a
    data-loader can seek into), and report the per-shard manifest
    (docs, token mass, id range, max sequence number = shard length).

    The manifest IS the product here: a training launch checks shard
    BALANCE (token-mass spread) before copying a single byte. The
    balance property itself is invariant-tested (max/min shard token
    mass on the fixture ≤ 2×, tests/test_llm_ops.py). Exactness:
    integer hash + integer counts — fully oracle-gated. Scale: one
    shard-keyed aggregate; the seq window is per-shard (corpus/16 per
    partition) and at real scale the writer uses it as the parquet
    file ordering key within each shard directory."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
        ).cast("bigint")
        % _N_EXPORT_SHARDS
    ).alias("shard")
    t = docs.select(
        "doc_id",
        shard,
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    s = t.withColumn("seq", F.row_number().over(w))
    return s.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
        F.max("seq").cast("bigint").alias("max_seq"),
    )


@query("q_llm_cdc_chunks_hashed")
def q_llm_cdc_chunks_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION exchange shape of `q_llm_cdc_chunks` (the
    substring_dedup_hashed / passage_dedup_hashed discipline): identical
    report semantics, but the chunk-identity shuffle — the one
    corpus-proportional exchange — keys on an 8-byte int64 (the first 8
    md5 bytes, computed inside the r11 `cdc_chunk_rows` kernel) instead
    of the 32-char md5 hex (the dominant width cut at 100 TB; chunk
    rows outnumber docs ~12×). Composed with the kernel it is the full
    production plan: no char-granular exchange AND 8 B/row identity
    keys. Rows-only BY DESIGN (the truncated-digest key is a wire
    detail, not an answer); the gate is tests/test_llm_ops.py::
    test_cdc_hashed_matches_md5_twin pinning the per-doc report EQUAL
    to the oracle-gated md5 twin — a 64-bit collision conflating two
    chunks is ~2^-64/pair and would surface there first."""
    docs = load_table(spark, sf_dir, "documents")
    return cdc_dedup_report(docs, hash_key=True, impl="kernel")


@query("q_llm_lsh_band_curve")  # xxhash64 signatures — rows-only
def q_llm_lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BANDING knob-setting curve — the (bands, rows-per-band)
    tradeoff table that sizes a MinHash deployment, completing the
    knob-curve trio (dedup threshold, ANN n_probe, now LSH geometry):
    ONE 32-hash signature build, then each config (b, r) ∈
    {(4,8), (8,4), (16,2)} derives its band rows FROM THE SAME
    signatures (`minhash_band_rows(sig=...)`) — more bands of fewer
    rows catch lower-Jaccard pairs (P = 1-(1-j^r)^b) at the cost of
    more candidate mass. Reported per config: band-row count (the
    index size), distinct candidate pairs (the join cost), hits +
    recall against the EXACT word-4-gram Jaccard >= 0.5 population,
    and the theoretical capture probability at j = 0.5.

    Rows-only (xxhash64 signatures); gated in tests/test_llm_ops.py by
    the STRUCTURAL invariant (identical signatures collide in every
    band of every config → planted exact dups are caught at 100% by
    all three configs), index-size exactness (n_band_rows = docs × b),
    and fixture-measured recall floors. Scale: the signature build is
    the only corpus-text pass; each config adds one (band, bucket)
    equi-join over id-width rows; the exact-Jaccard recall ground
    truth runs on a ~10k-doc hash-stride sample beyond fixture scale
    (r11 — it is an estimator, not an answer; saturates to the full
    corpus below 10k docs)."""
    from kafka_streams_clojure_spark.operators._cache import persist_if_uncached
    from kafka_streams_clojure_spark.operators.dedup import (
        minhash_band_rows,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    sig = persist_if_uncached(minhash_signatures(docs, n_hashes=32))
    # The exact-Jaccard GROUND-TRUTH pass was the curve's one
    # corpus-superlinear term (r11 rehearsal: 14× shuffle at 10×) and
    # exists only to ESTIMATE each config's recall — so beyond a fixed
    # population it runs on a deterministic hash-stride doc sample
    # (both endpoints sampled ⇒ truth-pair mass drops ∝ sample², the
    # FAISS ground-truth-on-a-sample practice; the estimator is the
    # same hits/n_exact, restricted to sampled pairs). Saturates to
    # the full corpus at fixture scale, so the pinned recall floors
    # and every fixture test are bit-unchanged.
    truth_docs = (
        docs.filter(
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(0x77)), n_docs // 10_000)
            == 0
        )
        if n_docs > 10_000
        else docs
    )
    exact = persist_if_uncached(
        ngram_jaccard_pairs(truth_docs, threshold=0.5).select("id_a", "id_b")
    )
    n_exact = exact.count()
    # r12 (guide §2.4: share one exchange instead of three): the three
    # configs' band rows UNION into one cfg-tagged table, so the
    # candidate build is ONE (cfg, band, bucket) self-join + ONE
    # distinct + ONE checkpoint, and the per-config counts/hits come
    # back as two 3-row aggregates — was a per-config loop of
    # join+distinct+checkpoint+2 counts (~9 jobs → 3). Per-config
    # candidate sets are unchanged (cfg rides in every join/group key).
    rows_all = None
    for bands in (4, 8, 16):
        tagged = minhash_band_rows(
            docs, n_hashes=32, bands=bands, sig=sig
        ).select(F.lit(bands).alias("cfg"), "doc_id", "band", "bucket")
        rows_all = tagged if rows_all is None else rows_all.unionByName(tagged)
    a = rows_all.select("cfg", F.col("doc_id").alias("id_a"), "band", "bucket")
    b = rows_all.select("cfg", F.col("doc_id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["cfg", "band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cfg", "id_a", "id_b")
        .distinct()
    ).localCheckpoint(eager=True)  # consumed by count + hits aggregates
    n_cand_by_cfg = {
        int(r["cfg"]): int(r["n"])
        for r in cand.groupBy("cfg").agg(F.count("*").alias("n")).collect()
    }
    hits_by_cfg = {
        int(r["cfg"]): int(r["n"])
        for r in cand.join(exact, ["id_a", "id_b"], "left_semi")
        .groupBy("cfg")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    outs = []
    for bands in (4, 8, 16):
        r = 32 // bands
        n_cand = n_cand_by_cfg.get(bands, 0)
        hits = hits_by_cfg.get(bands, 0)
        p_at_05 = 1.0 - (1.0 - 0.5**r) ** bands
        outs.append(
            (bands, r, bands * n_docs, n_cand, hits,
             (hits / n_exact) if n_exact else None, p_at_05)
        )
    return spark.createDataFrame(
        outs,
        "bands int, rows_per_band int, n_band_rows bigint, "
        "n_cand_pairs bigint, hits bigint, recall double, "
        "p_capture_at_05 double",
    )
