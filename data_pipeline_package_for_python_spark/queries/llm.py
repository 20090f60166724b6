"""SURVEY §2.2.10 — LLM-data-pipeline operators: dedup (exact / n-gram
Jaccard / MinHash+LSH / SimHash), text analysis, similarity search, and
multimodal binary columns.

Every oracle here replays the *same integer/hash construction* as the
Spark operator (md5-derived int64s, fixed MinHash coefficients,
left-to-right double folds), so results are bit-identical across
engines — no rounding, no tolerance.  The heavier SQL (16-permutation
MinHash, 64-bit SimHash votes) is generated programmatically below from
the exact constants the operators use.

Scale notes are on the operator modules themselves
(operators/dedup.py, operators/text.py, operators/similarity.py,
operators/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._registry import load, query
from ..operators import dedup as D
from ..operators import graph as G
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from ..session import session_state

_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip(qv, cv), p -> p[1] * p[2])), (a, b) -> a + b)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({v}, x -> x * x)), (a, b) -> a + b))"
)

# ---------------------------------------------------------------------- #
# shared DuckDB CTE fragments (documents table, 3-word shingles)         #
# ---------------------------------------------------------------------- #

# Mirrors operators/dedup.py::word_shingles (n=3): 1-based starts,
# floor of 1 start so a short doc yields itself as its one shingle.
_SHINGLE_CTE = """
words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
idx AS (
  SELECT doc_id, ws,
         unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
  FROM words
),
sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(ws[i:i+2], ' ') AS shingle
  FROM idx
)
"""

# int64 shingle hash — first 8 md5 hex digits (operators/dedup.py).
_H = "CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT)"


def _minhash_sig_sql(num_hashes: int = 16) -> str:
    """DuckDB CTE computing the same MinHash signature columns s0..s{k-1}
    as operators/dedup.py::minhash_signatures (same coefficients)."""
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {D.MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(D.minhash_coefficients(num_hashes))
    )
    return f"""
{_SHINGLE_CTE},
hashed AS (
  SELECT id, {_H} AS h FROM sh
),
sig AS (
  SELECT id,
         {mins}
  FROM hashed GROUP BY id
)
"""


def _band_union_sql(bands: int = 4, rows_per_band: int = 4) -> str:
    """UNION ALL of band-key projections, mirroring lsh_candidate_pairs."""
    parts = []
    for bi in range(bands):
        cols = ", ".join(
            f"s{bi * rows_per_band + r}" for r in range(rows_per_band)
        )
        parts.append(
            f"SELECT id, concat_ws(':', '{bi}', {cols}) AS band_key FROM sig"
        )
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------- #
# dedup                                                                  #
# ---------------------------------------------------------------------- #


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_key,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact content dedup — narrow md5 groupBy (operators/dedup.py)."""
    return D.exact_dedup(load(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "dedup_shingles",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT id, count(*) AS n_shingles FROM sh GROUP BY id
    """,
)
def dedup_shingles(spark, sf_dir):
    """Distinct 3-word shingles per doc — the unit under MinHash/Jaccard."""
    docs = load(spark, sf_dir, "documents")
    return (
        D.word_shingles(docs, "doc_id", "text", 3)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    """,
)
def dedup_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard pairs ≥ 0.1 — the verification tier."""
    docs = load(spark, sf_dir, "documents")
    # max_shingle_freq=None: explicit opt-out of the default stop-
    # shingle cap — this registry entry IS the declared uncapped
    # verifier tier, and the oracle above computes the uncapped answer.
    return D.jaccard_similar_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1,
        max_shingle_freq=None,
    )


@query("dedup_minhash_signatures", oracle=f"WITH {_minhash_sig_sql(16)} SELECT * FROM sig")
def dedup_minhash_signatures(spark, sf_dir):
    """16-permutation MinHash signatures; oracle replays the exact same
    affine-map constants over the same md5-derived shingle hashes."""
    docs = load(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=16)


@query(
    "dedup_lsh_pairs",
    oracle=f"""
    WITH {_minhash_sig_sql(16)},
    bands AS (
      {_band_union_sql(4, 4)}
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b USING (band_key)
    WHERE a.id < b.id
    """,
)
def dedup_lsh_pairs(spark, sf_dir):
    """LSH banding (4 bands x 4 rows) candidate pairs — the linear-cost
    scale path for near-dedup."""
    docs = load(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=16)
    return D.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)


@query(
    "dedup_near_minhash",
    oracle=f"""
    WITH {_minhash_sig_sql(16)},
    bands AS (
      {_band_union_sql(4, 4)}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b USING (band_key)
      WHERE a.id < b.id
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY a.id, b.id
    ),
    exact AS (
      SELECT id_a, id_b,
             n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    )
    SELECT c.id_a, c.id_b, e.jaccard
    FROM cand c JOIN exact e ON c.id_a = e.id_a AND c.id_b = e.id_b
    """,
)
def dedup_near_minhash(spark, sf_dir):
    """End-to-end near-dedup: MinHash → LSH candidates → exact-Jaccard
    verification of candidates only (the 100 TB pipeline shape)."""
    docs = load(spark, sf_dir, "documents")
    return D.near_dedup_minhash(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.1
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY a.id, b.id
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    bidir AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM bidir
      UNION
      SELECT r.u, b.v FROM reach r JOIN bidir b ON r.v = b.u
    ),
    comp AS (
      SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    ),
    labeled AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS n_members,
           (doc_id = component) AS is_survivor
    FROM labeled
    """,
)
def dedup_clusters(spark, sf_dir):
    """Pairs → clusters → survivors: exact-Jaccard duplicate pairs
    resolved into transitive components by alternating large-star /
    small-star (operators/graph.py), survivor = min doc_id per cluster.

    The oracle computes the same fixpoint as a DuckDB recursive-CTE
    transitive closure — quadratic per cluster and fine at oracle scale,
    which is exactly why the Spark side uses the O(log²)-round star
    algorithm instead."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_similar_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1,
        max_shingle_freq=None,
    ).select("id_a", "id_b")
    return G.resolve_duplicates(
        docs.select("doc_id"), pairs, "doc_id"
    ).select("doc_id", "component", "n_members", "is_survivor")


@query(
    "dedup_clusters_minhash",
    oracle=f"""
    WITH RECURSIVE {_minhash_sig_sql(16)},
    bands AS (
      {_band_union_sql(4, 4)}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b USING (band_key)
      WHERE a.id < b.id
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c
      JOIN sh a ON a.id = c.id_a
      JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    bidir AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM bidir
      UNION
      SELECT r.u, b.v FROM reach r JOIN bidir b ON r.v = b.u
    ),
    comp AS (
      SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    ),
    labeled AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS n_members,
           (doc_id = component) AS is_survivor
    FROM labeled
    """,
)
def dedup_clusters_minhash(spark, sf_dir):
    """PRODUCTION-SHAPE clusters: MinHash → LSH candidates → exact-
    Jaccard verification of candidates only → large-star/small-star
    connected components.  Same output contract as ``dedup_clusters``
    (component, member count, min-id survivor flag) but the pair tier
    is the linear-cost LSH path instead of the deliberately UNCAPPED
    all-pairs verifier — at sf3 this builds the same pair set in ~18 s
    where the verifier tier takes ~247 s, and at 100 TB the all-pairs
    tier simply does not exist.  Differences from the verifier tier are
    exactly LSH recall misses (pairs over threshold whose signatures
    never collide in any band); the oracle reproduces the SAME capped
    candidate set (shared MinHash coefficients), so the comparison is
    hash-exact, not recall-lossy."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.near_dedup_minhash(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.1
    ).select("id_a", "id_b")
    return G.resolve_duplicates(
        docs.select("doc_id"), pairs, "doc_id"
    ).select("doc_id", "component", "n_members", "is_survivor")


def _simhash_oracle() -> str:
    votes = []
    for half, off in (("hi", 1), ("lo", 9)):
        for b in range(32):
            votes.append(
                f"SUM(CASE WHEN ({half} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
                f" AS v_{half}_{b}"
            )
    votes_sql = ",\n         ".join(votes)
    hi_bits = " + ".join(
        f"(CASE WHEN v_hi_{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32)
    )
    lo_bits = " + ".join(
        f"(CASE WHEN v_lo_{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    hashed AS (
      SELECT id,
             CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) AS hi,
             CAST(('0x' || substring(md5(w), 9, 8)) AS BIGINT) AS lo
      FROM toks
    ),
    votes AS (
      SELECT id,
         {votes_sql}
      FROM hashed GROUP BY id
    )
    SELECT id,
           CAST({hi_bits} AS BIGINT) AS simhash_hi,
           CAST({lo_bits} AS BIGINT) AS simhash_lo
    FROM votes
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints — one groupBy with 64 SUM votes."""
    return D.simhash64(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sh AS ({_simhash_oracle()}),
    b AS (
      SELECT id, simhash_hi AS hi, simhash_lo AS lo,
             unnest([(simhash_hi >> 16) & 65535, simhash_hi & 65535,
                     (simhash_lo >> 16) & 65535, simhash_lo & 65535])
                 AS band_val,
             unnest([0, 1, 2, 3]) AS band_idx
      FROM sh
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, a.hi AS hi_a, a.lo AS lo_a,
                      c.id AS id_b, c.hi AS hi_b, c.lo AS lo_b
      FROM b a JOIN b c
        ON a.band_idx = c.band_idx AND a.band_val = c.band_val
       AND a.id < c.id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b,
             CAST(bit_count(xor(hi_a, hi_b))
                + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming
      FROM cand
    ) WHERE hamming <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 3) by 4×16-bit pigeonhole
    banding — candidates from an equality self-join on band keys, never
    all-pairs; verified with bit_count(xor) in codegen
    (operators/dedup.py simhash_near_pairs)."""
    return D.simhash_near_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


_INCR_ORACLE = """
    SELECT n.doc_id
    FROM documents n
    WHERE n.doc_id >= 250
      AND NOT EXISTS (
        SELECT 1 FROM documents s
        WHERE s.doc_id < 250 AND md5(s.text) = md5(n.text)
      )
"""


@query("dedup_incremental", oracle=_INCR_ORACLE)
def dedup_incremental(spark, sf_dir):
    """Incremental (cross-run) dedup: the new batch (doc_id ≥ 250)
    anti-joined against the already-ingested corpus (doc_id < 250) on
    content digest — 32-byte shuffle keys (operators/dedup.py
    incremental_dedup)."""
    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") >= 250)
    seen = docs.filter(F.col("doc_id") < 250)
    return D.incremental_dedup(new, seen, "text").select("doc_id")


@query("dedup_incremental_bloom", oracle=_INCR_ORACLE)
def dedup_incremental_bloom(spark, sf_dir):
    """Same exact result through the BloomSketch prefilter path: digests
    missing the sketch are provably new and skip the anti-join; only
    sketch hits (dups + fpp share) enter it.  The sketch is built
    distributively (two-level bitmap OR, driver traffic bounded by
    fanin × sketch size) and would persist across ingest runs at scale."""
    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") >= 250)
    seen = docs.filter(F.col("doc_id") < 250)
    sketch = D.build_bloom(
        seen.select(F.md5("text").alias("d")), "d",
        expected_items=10_000, fpp=0.01,
    )
    return D.incremental_dedup(
        new, seen, "text", prefilter=sketch
    ).select("doc_id")


# ---------------------------------------------------------------------- #
# text analysis                                                          #
# ---------------------------------------------------------------------- #


@query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id AS id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{T.TOKEN_REGEX}')) AS lex_tokens
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts (operators/text.py)."""
    return T.token_counts(load(spark, sf_dir, "documents"), "doc_id", "text")


def _quality_oracle() -> str:
    all_markers = tuple(m for ms in T.LANG_MARKERS.values() for m in ms)
    quoted = ",".join(f"'{m}'" for m in all_markers)
    return f"""
    WITH base AS (
      SELECT doc_id AS id,
             strlen(text) AS n_chars,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({quoted}))) AS stop_hits,
             strlen(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                 AS punct_count
      FROM documents
    )
    SELECT id, n_chars, n_words,
           (n_chars - (n_words - 1)) / n_words AS avg_word_len,
           stop_hits / n_words AS stopword_ratio,
           punct_count,
           CASE WHEN n_words < 5 THEN 'too_short'
                WHEN (n_chars - (n_words - 1)) / n_words > 15.0
                     THEN 'weird_tokens'
                WHEN stop_hits / n_words >= 0.05 THEN 'natural'
                ELSE 'keep' END AS quality_bucket
    FROM base
    """


@query("text_quality", oracle=_quality_oracle())
def text_quality(spark, sf_dir):
    """Per-doc quality stats + corpus-filter bucket (operators/text.py)."""
    return T.quality_score(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_tfidf",
    oracle="""
    WITH words AS (
      SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words GROUP BY id, term
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM documents)
    SELECT id, term, tf, df, n_docs,
           (tf * n_docs) / df AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
    WHERE tf >= 2
    """,
)
def text_tfidf(spark, sf_dir):
    """TF-IDF with the exact-rational odds idf (tf * N / df) — hash-
    identical across engines; ln-idf is a documented operator option
    outside the hash surface (operators/text.py:tf_idf)."""
    return T.tf_idf(
        load(spark, sf_dir, "documents"), "doc_id", "text", min_tf=2
    )


def _bm25_ctes(topk: int = 5, out: str = "bm25r") -> str:
    """The exact-rational BM25 twin as a reusable CTE chain ending in
    ``{out}(query_id, rank, doc_id, score, n_shared)`` — shared by
    text_bm25_related and the RRF hybrid-retrieval oracle."""
    return f"""w AS MATERIALIZED (
      SELECT doc_id AS id, doc_id % 37 = 0 AS is_q,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS MATERIALIZED (
      SELECT id, term, CAST(count(*) AS BIGINT) AS tf,
             bool_or(is_q) AS is_q
      FROM w GROUP BY id, term
    ),
    dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY id),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(dl) AS BIGINT) AS L FROM dl),
    posting AS MATERIALIZED (
      SELECT tf.id, tf.term, tf.tf, tf.is_q, dl.dl, dfq.df, st.n, st.L
      FROM tf JOIN dfq USING (term) JOIN dl USING (id), st
      WHERE dfq.df * 1000000 <= 800000 * st.n
    ),
    q AS (SELECT id AS query_id, term FROM posting WHERE is_q),
    sc AS (
      SELECT q.query_id, p.id, p.term,
             CAST((2*p.n - 2*p.df + 1) * 22 * p.tf * p.L AS DOUBLE)
             / CAST((2*p.df + 1)
                    * (10*p.tf*p.L + 3*p.L + 9*p.dl*p.n) AS DOUBLE) AS s
      FROM q JOIN posting p USING (term)
      WHERE p.id <> q.query_id
    ),
    pair AS (
      SELECT query_id, id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               array_agg(s ORDER BY term)), (a, b) -> a + b) AS score,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sc GROUP BY query_id, id
    ),
    {out} AS (
      SELECT query_id, rank, doc_id, score, n_shared FROM (
        SELECT query_id, id AS doc_id, score, n_shared,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, id) AS rank
        FROM pair
      ) WHERE rank <= {topk}
    )"""


@query(
    "text_bm25_related",
    oracle="WITH " + _bm25_ctes(topk=5)
    + "\nSELECT query_id, rank, doc_id, score, n_shared FROM bm25r",
)
def text_bm25_related(spark, sf_dir):
    """Okapi BM25 related-document retrieval (operators/text.py
    bm25_related_topk): top-5 most-similar documents per query doc
    (doc_id % 37), scored with k1=1.2 / b=0.75 BM25 where the idf is
    the exact Robertson odds (ln-free, same ordering) and every
    per-term contribution is one IEEE division of exact BIGINTs summed
    in term order — the whole double score is on the hash, no rounding.
    Terms in >80% of documents are pruned before the posting-list join
    (near-zero idf AND the join's quadratic hot spot at 100 TB; the
    fixture's 31-term vocabulary is stopword-heavy, so the cut sits
    high here — production retrieval uses ~10-20%, where the cut is
    what keeps candidate volume linear; with every fixture term under
    the cut this query is quadratic by construction, so it belongs to
    the sf0.01 correctness gate, not the sf1 bench set)."""
    docs = load(spark, sf_dir, "documents")
    return T.bm25_related_topk(
        docs, "doc_id", "text",
        query_pred=F.col("doc_id") % 37 == 0,
        k=5, max_df_ratio_ppm=800_000,
    )


@query(
    "text_cooccurrence_glove",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    pairs AS (
      SELECT d.d AS dist, list_zip(w[1:len(w) - d.d],
                                   w[d.d + 1:len(w)]) AS z
      FROM ws, (SELECT unnest([1, 2, 3, 4]) AS d) d
      WHERE len(w) > d.d
    ),
    p AS (
      SELECT u.z[1] AS term_a, u.z[2] AS term_b,
             CAST(12 / dist AS BIGINT) AS w12
      FROM pairs, unnest(pairs.z) AS u(z)
    ),
    agg AS (
      SELECT term_a, term_b,
             CAST(sum(w12) AS BIGINT) AS x12,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM p GROUP BY term_a, term_b
    )
    SELECT term_a, term_b, x12, n_pairs
    FROM agg ORDER BY x12 DESC, term_a, term_b LIMIT 50
    """,
)
def text_cooccurrence_glove(spark, sf_dir):
    """GloVe co-occurrence substrate (Pennington et al., EMNLP 2014):
    directional windowed co-occurrence counts with the paper's
    harmonic 1/d distance weighting, window 4, kept EXACT by scaling
    to twelfths (12/d ∈ {12,6,4,3} — integer sums, no float
    accumulation).  Top-50 pairs by weighted count.  Plan shape is the
    one that survives 100 TB: the window pairing is MAP-ONLY (per
    offset d, zip the token array against its d-shifted self — no
    self-join, no positional explode join), then a single (a,b)
    groupBy with map-side partial aggregation; output is
    vocabulary-bounded, never corpus-bounded."""
    ws = load(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("w")
    )
    per_d = []
    for d in (1, 2, 3, 4):
        per_d.append(
            ws.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(
                            "w", 1,
                            F.greatest(F.size("w") - d, F.lit(0)),
                        ),
                        F.slice(
                            "w", d + 1,
                            F.greatest(F.size("w") - d, F.lit(0)),
                        ),
                    )
                ).alias("z"),
                F.lit(12 // d).cast("long").alias("w12"),
            )
        )
    u = per_d[0]
    for p in per_d[1:]:
        u = u.unionByName(p)
    agg = (
        u.select(
            F.col("z").getField("0").alias("term_a"),
            F.col("z").getField("1").alias("term_b"),
            "w12",
        )
        .groupBy("term_a", "term_b")
        .agg(
            F.sum("w12").alias("x12"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    return agg.orderBy(
        F.col("x12").desc(), "term_a", "term_b"
    ).limit(50)


@query(
    "search_hybrid_rrf",
    oracle="WITH " + _bm25_ctes(topk=10) + f""",
    qc AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 37 = 0
    ),
    cc AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings
    ),
    cscored AS (
      SELECT query_id, neighbor_id,
             {{dot}} / ({{nq}} * {{nc}}) AS cosine
      FROM qc, cc WHERE query_id <> neighbor_id
    ),
    cosr AS (
      SELECT query_id, rank, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM cscored
      ) WHERE rank <= 10
    ),
    u AS (
      SELECT query_id, doc_id, rank FROM bm25r
      UNION ALL
      SELECT query_id, neighbor_id AS doc_id, rank FROM cosr
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(sum(1000000000000 // (60 + rank)) AS BIGINT)
                 AS rrf_score_e12,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY query_id, doc_id
    )
    SELECT query_id, rank, doc_id, rrf_score_e12, n_sources FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY rrf_score_e12 DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 5
    """.format(
        dot=_DOT,
        nq=_NORM.format(v="qv"),
        nc=_NORM.format(v="cv"),
    ),
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: Reciprocal Rank Fusion (Cormack et al.,
    SIGIR '09) of the lexical BM25 ranking and the embedding-cosine
    ranking for the same query set (id % 37) — the standard RAG
    retrieval combiner.  Each ranker contributes its top-10; fusion
    scores are exact BIGINT sums of ``1e12 div (60+rank)``
    (operators/similarity.py rrf_fuse), so ranking and hash are both
    deterministic.  Scale shape: the rankers bound their own candidate
    work (max-df-pruned posting join; broadcast query side); the
    fusion only ever touches |queries|·k rows."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    bm25 = T.bm25_related_topk(
        docs, "doc_id", "text",
        query_pred=F.col("doc_id") % 37 == 0,
        k=10, max_df_ratio_ppm=800_000,
    ).select("query_id", "doc_id", "rank")
    cos = S.cosine_topk(
        emb, emb.filter(F.col("vec_id") % 37 == 0), k=10
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return S.rrf_fuse([bm25, cos], k=5)


@query(
    "text_vocab_encode",
    oracle="""
    WITH tf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
      ) GROUP BY term
    ),
    vocab AS (
      SELECT term,
             CAST(row_number() OVER (ORDER BY tf DESC, term) - 1 AS INT)
                 AS token_id
      FROM (SELECT * FROM tf ORDER BY tf DESC, term LIMIT 64)
    ),
    idx AS (
      SELECT doc_id AS id, string_split(text, ' ') AS ws,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS i
      FROM documents
    ),
    tok AS (
      SELECT idx.id, idx.i, COALESCE(v.token_id, -1) AS tid
      FROM idx LEFT JOIN vocab v ON v.term = idx.ws[idx.i]
    )
    SELECT id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           string_agg(tid::VARCHAR, ' ' ORDER BY i) AS token_ids
    FROM tok GROUP BY id
    """,
)
def text_vocab_encode(spark, sf_dir):
    """Corpus vocabulary (top-64 terms, deterministic order) + map-only
    document encoding to token-id sequences
    (operators/text.py:build_vocab/encode_as_vocab_ids)."""
    docs = load(spark, sf_dir, "documents")
    vocab = T.build_vocab(docs, "text", size=64)
    enc = T.encode_as_vocab_ids(docs, "doc_id", "text", vocab)
    return enc.select(
        "id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        "token_ids",
    )


@query(
    "text_repetition",
    oracle="""
    WITH base AS (
      SELECT doc_id AS id,
             string_split(text, chr(10)) AS lines,
             string_split(text, ' ') AS ws
      FROM documents
    ),
    word_mult AS (
      SELECT id, MAX(c) AS best FROM (
        SELECT id, w, COUNT(*) AS c
        FROM (SELECT id, unnest(ws) AS w FROM base)
        GROUP BY id, w
      ) GROUP BY id
    ),
    g_idx AS (
      SELECT id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      FROM base WHERE len(ws) >= 2
    ),
    g AS (
      SELECT id, array_to_string(ws[i:i+1], ' ') AS gram FROM g_idx
    ),
    gstats AS (
      SELECT id, COUNT(*) AS n2, COUNT(DISTINCT gram) AS d2
      FROM g GROUP BY id
    ),
    stats AS (
      SELECT b.id,
             len(b.lines) AS n_lines,
             CAST(len(b.lines) - len(list_distinct(b.lines)) AS DOUBLE)
                 / len(b.lines) AS dup_line_fraction,
             CASE WHEN gs.n2 IS NULL OR gs.n2 = 0 THEN 0.0
                  ELSE CAST(gs.n2 - gs.d2 AS DOUBLE) / gs.n2
                  END AS dup_2gram_fraction,
             CAST(w.best AS DOUBLE) / len(b.ws) AS top_word_fraction
      FROM base b
      LEFT JOIN gstats gs USING (id)
      JOIN word_mult w USING (id)
    )
    SELECT id, n_lines, dup_line_fraction, dup_2gram_fraction,
           top_word_fraction,
           CASE WHEN dup_line_fraction > 0.30 THEN 'dup_lines'
                WHEN dup_2gram_fraction > 0.50 THEN 'dup_ngrams'
                WHEN top_word_fraction > 0.20 THEN 'word_dominance'
                ELSE 'keep' END AS repetition_bucket
    FROM stats
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters — per-doc array folds, no explode
    (operators/text.py::repetition_stats); the oracle recomputes the
    word-multiplicity fold as unnest → group → max."""
    return T.repetition_stats(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _language_oracle() -> str:
    score_cols = []
    for lang, markers in T.LANG_MARKERS.items():
        quoted = ",".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(ws, w -> w IN ({quoted}))) AS s_{lang}"
        )
    scores = ",\n             ".join(score_cols)
    return f"""
    WITH words AS (
      SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents
    ),
    scored AS (
      SELECT id,
             {scores}
      FROM words
    )
    SELECT id, s_de, s_en, s_es, s_fr,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
                     THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_guess
    FROM scored
    """


@query("text_language_id", oracle=_language_oracle())
def text_language_id(spark, sf_dir):
    """Marker-word language scores + deterministic argmax."""
    return T.language_id(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_term_frequencies",
    oracle="""
    SELECT term, count(*) AS tf
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term HAVING count(*) >= 2
    """,
)
def text_term_frequencies(spark, sf_dir):
    """Corpus term frequencies — explode + partial-agg shuffle on term."""
    return T.term_frequencies(
        load(spark, sf_dir, "documents"), "text", min_count=2
    )


@query(
    "text_doc_fingerprint",
    oracle="""
    SELECT doc_id AS id,
           md5(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS vocab_fingerprint
    FROM documents
    """,
)
def text_doc_fingerprint(spark, sf_dir):
    """Order-insensitive vocabulary fingerprint (permutation-collision)."""
    return T.doc_fingerprint(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_rolling_hash",
    oracle=f"""
    SELECT doc_id AS id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 w -> CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % {T.ROLLING_MOD}) AS rolling_hash
    FROM documents
    """,
)
def text_rolling_hash(spark, sf_dir):
    """Order-sensitive rolling polynomial hash — per-row HOF fold."""
    return T.rolling_hash_fingerprint(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# PII fixture: deterministically append synthetic email/phone/IP to each
# doc (the synthetic corpus has no natural PII), identically in both
# engines, then redact.
_PII_SUFFIX_SPARK = (
    "concat(text, ' contact u', doc_id, '@mail.example.org tel +1 555 010 ',"
    " doc_id, ' ip 10.0.0.', doc_id % 256)"
)
_PII_SUFFIX_SQL = (
    "text || ' contact u' || doc_id || '@mail.example.org tel +1 555 010 '"
    " || doc_id || ' ip 10.0.0.' || (doc_id % 256)"
)


@query(
    "text_redact_pii",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_PII_SUFFIX_SQL} AS text FROM documents
    ), red AS (
      SELECT doc_id AS id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                   '<EMAIL>', 'g'),
                 '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}',
                 '<IP>', 'g'),
               '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]', '<PHONE>', 'g')
               AS clean_text
      FROM aug
    )
    SELECT id, clean_text,
           CAST(len(string_split(clean_text, '<EMAIL>')) - 1
              + len(string_split(clean_text, '<PHONE>')) - 1
              + len(string_split(clean_text, '<IP>')) - 1 AS BIGINT)
               AS n_redactions
    FROM red
    """,
)
def text_redact_pii(spark, sf_dir):
    """PII redaction (emails/phones/IPv4 → typed tags) — a regexp_replace
    chain in codegen (operators/text.py redact_pii); patterns restricted
    to Java-regex/RE2-identical constructs so the oracle runs them
    verbatim."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PII_SUFFIX_SPARK).alias("text")
    )
    return T.redact_pii(docs, "doc_id", "text")


# URL mentions are synthesized onto each document the same way the PII
# suffix is (documents carry no native URLs): two links per doc with a
# noisy scheme case, a www. prefix, a query string, and a trailing
# slash — one of each canonicalization hazard.
_URL_SUFFIX_SPARK = (
    "concat(text, ' see https://WWW.Site', doc_id % 20,"
    " '.example.com/page/', doc_id, '?utm=x also http://mirror',"
    " doc_id % 7, '.example.net/a/', doc_id % 5, '/')"
)
_URL_SUFFIX_SQL = (
    "text || ' see https://WWW.Site' || (doc_id % 20) ||"
    " '.example.com/page/' || doc_id || '?utm=x also http://mirror' ||"
    " (doc_id % 7) || '.example.net/a/' || (doc_id % 5) || '/'"
)


@query(
    "text_url_extract",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_URL_SUFFIX_SQL} AS text FROM documents
    ),
    u AS (
      SELECT doc_id AS id,
             unnest(regexp_extract_all(text, 'https?://[^\\s]+')) AS url
      FROM aug
    ),
    n AS (
      SELECT id, url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(url), '^https?://(www\\.)?', ''),
                 '[?#].*$', ''),
               '/$', '') AS url_norm
      FROM u
    )
    SELECT id, url, regexp_extract(url_norm, '^([^/]+)', 1) AS domain,
           url_norm
    FROM n
    """,
)
def text_url_extract(spark, sf_dir):
    """URL extraction + canonicalization (lowercase, strip scheme/www,
    drop query/fragment/trailing slash) — the substrate for URL-level
    crawl dedup; all codegen regex, map-only
    (operators/text.py extract_urls)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_SUFFIX_SPARK).alias("text")
    )
    return T.extract_urls(docs, "doc_id", "text")


@query(
    "text_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    c AS (SELECT id, {_H} AS hsh FROM sh WHERE id >= 100),
    b AS (SELECT id AS bench_id, {_H} AS hsh FROM sh WHERE id < 100)
    SELECT c.id, b.bench_id, count(*) AS n_shared
    FROM c JOIN b USING (hsh)
    GROUP BY c.id, b.bench_id
    HAVING count(*) >= 2
    """,
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs (doc_id ≥ 100) sharing ≥ 2
    distinct 3-gram shingles with any 'benchmark' doc (doc_id < 100).
    Equality join on int64 shingle hashes — the benchmark side is
    broadcast (8-byte keys), so the corpus probe is map-side; the only
    shuffle is the groupBy of the flagged (id, bench_id) pairs."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 100)
    bench = docs.filter(F.col("doc_id") < 100)
    return T.decontaminate(
        corpus, bench, "doc_id", "text", n=3, min_overlap=2
    )


@query(
    "text_charset_filter",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^ -~]', '', 'g')) AS n_ascii
      FROM documents
    )
    SELECT doc_id AS id, n_alpha, n_ascii,
           CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) AS alpha_ratio,
           (n_ascii = n_chars) AS is_ascii,
           (CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) >= 0.6) AS keep
    FROM m
    """,
)
def text_charset_filter(spark, sf_dir):
    """Charset quality gate (alpha-mass + printable-ASCII checks): two
    codegen regexp strips, map-only — the cheapest corpus filter
    (operators/text.py charset_quality).  Both engines run the same
    Java/RE2-identical character classes, so ratios are bit-equal."""
    docs = load(spark, sf_dir, "documents")
    return T.charset_quality(docs, "doc_id", "text", min_alpha_ratio=0.6)


@query(
    "etl_train_split",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM b GROUP BY 1
    """,
)
def etl_train_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (80/10/10): bucket
    by md5(doc_id)-derived int64, never rand() — stable across runs and
    engines, new corpus batches never migrate old docs between splits
    (operators/etl.py hash_split).  Map-only assignment; the tiny
    3-group rollup here exists to give the driver a checkable surface."""
    from ..operators.etl import hash_split

    docs = load(spark, sf_dir, "documents").select("doc_id")
    split = hash_split(docs, "doc_id")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.sum("doc_id").alias("id_sum"),
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), c AS (
      SELECT doc_id, ws,
             unnest(generate_series(
               1, greatest(CAST(ceil(len(ws) / 32.0) AS BIGINT), 1))) AS i
      FROM words
    )
    SELECT doc_id AS id,
           CAST(i - 1 AS BIGINT) AS chunk_idx,
           array_to_string(ws[(i-1)*32+1 : (i-1)*32+32], ' ') AS chunk_text,
           CAST(len(string_split(
             array_to_string(ws[(i-1)*32+1 : (i-1)*32+32], ' '), ' '))
             AS BIGINT) AS n_tokens
    FROM c
    """,
)
def text_pack_sequences(spark, sf_dir):
    """Sequence packing: documents → fixed 32-token training chunks, all
    inside codegen (split once, sequence/slice/concat_ws, posexplode) —
    map-only at any scale (operators/text.py pack_sequences)."""
    return T.pack_sequences(
        load(spark, sf_dir, "documents"), "doc_id", "text", max_tokens=32
    )


# ---------------------------------------------------------------------- #
# similarity search                                                      #
# ---------------------------------------------------------------------- #

# Ordered double folds, bit-identical to Spark's aggregate() HOF.
@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
                 AS cosine
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_topk_bruteforce(spark, sf_dir):
    """Exact top-5 cosine neighbors for every 50th vector — broadcast
    nested-loop, per-query window top-k (operators/similarity.py)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.cosine_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k=5
    )


def _bucket_expr(v: str, n_bits: int = 4) -> str:
    return " + ".join(
        f"(CASE WHEN {v}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    )


@query(
    "sim_topk_bucketed",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             {_bucket_expr('embedding')} AS bucket
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
             {_bucket_expr('embedding')} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
                 AS cosine
      FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_topk_bucketed(spark, sf_dir):
    """Approximate top-5 via sign-LSH buckets (the equality-join scale
    path), re-ranked by exact cosine within the bucket."""
    emb = load(spark, sf_dir, "embeddings")
    return S.bucketed_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k=5, n_bits=4
    )


def _hyperplane_bucket_expr(v: str, planes: list[list[int]]) -> str:
    """DuckDB twin of operators.similarity.hyperplane_buckets: identical
    integer plane literals, identical left-to-right double fold, so the
    bucket ids are bit-for-bit the Spark ones."""
    terms = []
    for j, plane in enumerate(planes):
        arr = "[" + ",".join(str(c) for c in plane) + "]"
        dot_j = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(list_zip({v}, {arr}), p -> p[1] * p[2])), "
            f"(a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {dot_j} >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


_HP_PLANES = S.random_hyperplanes(dim=64, n_bits=6, seed=42)


@query(
    "sim_topk_hyperplane",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             {_hyperplane_bucket_expr("(embedding::DOUBLE[])", _HP_PLANES)}
                 AS bucket
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
             {_hyperplane_bucket_expr("(embedding::DOUBLE[])", _HP_PLANES)}
                 AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
                 AS cosine
      FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_topk_hyperplane(spark, sf_dir):
    """Approximate top-5 via RANDOM-HYPERPLANE sign-LSH (the upgrade over
    sim_topk_bucketed's axis-aligned planes: every bit mixes all 64
    dimensions, so bucket occupancy stays balanced under correlated
    leading dims).  Candidates bucket-joined, re-ranked by exact
    cosine."""
    emb = load(spark, sf_dir, "embeddings")
    return S.hyperplane_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0),
        k=5, dim=64, n_bits=6, seed=42,
    )


@query(
    "ml_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS anchor_id, label AS anchor_label,
             embedding::DOUBLE[] AS qv,
             {_hyperplane_bucket_expr("(embedding::DOUBLE[])", _HP_PLANES)}
                 AS bucket
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (
      SELECT vec_id AS negative_id, label AS negative_label,
             embedding::DOUBLE[] AS cv,
             {_hyperplane_bucket_expr("(embedding::DOUBLE[])", _HP_PLANES)}
                 AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT anchor_id, anchor_label, negative_id, negative_label,
             {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
                 AS cosine
      FROM q JOIN c USING (bucket)
      WHERE anchor_label <> negative_label
    )
    SELECT anchor_id, anchor_label, rank, negative_id, negative_label,
           cosine
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ml_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per anchor, the 5
    most-cosine-similar embeddings with a DIFFERENT label, restricted
    to the anchor's random-hyperplane LSH bucket (operators/
    similarity.py hard_negatives) — boundary-adjacent negatives mined
    corpus-scale without a labelled cross join."""
    emb = load(spark, sf_dir, "embeddings")
    return S.hard_negatives(
        emb, emb.filter(F.col("vec_id") % 50 == 0),
        dim=64, k=5, n_bits=6, seed=42,
    )


@query(
    "sim_topk_ivf",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cell_id, embedding::DOUBLE[] AS centroid
      FROM embeddings WHERE vec_id % 40 = 0
    ),
    corpus_scored AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cell_id,
             {_DOT.replace('qv', '(e.embedding::DOUBLE[])').replace('cv', 'c.centroid')}
               / ({_NORM.format(v='(e.embedding::DOUBLE[])')}
                  * {_NORM.format(v='c.centroid')}) AS sim
      FROM embeddings e CROSS JOIN cent c
    ),
    inv_file AS (
      SELECT vec_id AS neighbor_id, v AS cv, cell_id AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
        FROM corpus_scored
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, v AS qv, cell_id AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
        FROM corpus_scored WHERE vec_id % 50 = 0
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
                 AS cosine
      FROM inv_file JOIN probes USING (cell)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_topk_ivf(spark, sf_dir):
    """IVF-style ANN: stride-sampled centroid codebook, single-cell
    inverted file over the corpus, queries probe their 2 nearest cells,
    exact-cosine re-rank (operators/similarity.py:ivf_topk).  The
    data-adaptive third tier next to brute force and sign-LSH."""
    emb = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0),
        k=5, centroid_stride=40, n_probe=2,
    )


@query(
    "sim_topk_sq8",
    oracle=f"""
    WITH c0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    c1 AS (
      SELECT unnest(list_transform(v, (x, i) -> {{'pos': i, 'ax': abs(x)}}))
                 AS u
      FROM c0
    ),
    dims AS (SELECT u.pos AS pos, max(u.ax) AS m FROM c1 GROUP BY u.pos),
    msrow AS (SELECT array_agg(m ORDER BY pos) AS ms FROM dims),
    qz AS (
      SELECT vec_id AS query_id, v AS qv,
             list_transform(v, (x, i) -> CASE WHEN ms[i] = 0.0 THEN 0
               ELSE CAST(floor(x / ms[i] * 127.0) AS BIGINT) END) AS qq
      FROM c0, msrow WHERE vec_id % 50 = 0
    ),
    cz AS (
      SELECT vec_id AS neighbor_id, v AS cv,
             list_transform(v, (x, i) -> CASE WHEN ms[i] = 0.0 THEN 0
               ELSE CAST(floor(x / ms[i] * 127.0) AS BIGINT) END) AS cq
      FROM c0, msrow
    ),
    scored AS (
      SELECT query_id, neighbor_id, qv, cv,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(qq, cq), p -> p[1] * p[2])),
               (a, b) -> a + b) AS qscore
      FROM qz, cz WHERE query_id <> neighbor_id
    ),
    short AS (
      SELECT query_id, neighbor_id, qv, cv FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS sr
        FROM scored
      ) WHERE sr <= 20
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
      SELECT query_id, neighbor_id,
             {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
                 AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_DOT} / ({_NORM.format(v='qv')}
                        * {_NORM.format(v='cv')}) DESC, neighbor_id)
                 AS rank
      FROM short
    ) WHERE rank <= 5
    """,
)
def sim_topk_sq8(spark, sf_dir):
    """SQ8 scalar-quantized ANN: per-dimension max-abs codebook, exact
    BIGINT code-dot shortlist (bit-deterministic — no float summation
    order in the candidate cut), double-precision cosine re-rank on the
    ≤20 survivors (operators/similarity.py:sq8_topk).  The
    memory-bandwidth tier of the ANN family: 4× less traffic than
    float32 at 100 TB."""
    emb = load(spark, sf_dir, "embeddings")
    return S.sq8_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k=5, shortlist=20
    )


def _kmeans_oracle_sql(
    k: int = 8, iterations: int = 5, dim: int = 64,
    scale: int = 1_000_000, final_select: str | None = None,
) -> str:
    """Unrolled exact-integer k-means twin for DuckDB.

    Mirrors operators/similarity.py kmeans_embeddings_exact round for
    round: per-dim quantize to BIGINT units, squared-L2 in exact
    integers, argmin with lowest-cluster tie-break, centroid update by
    floor division, empty clusters keeping their previous centroid.
    The fixed iteration count unrolls into chained CTE stages, every
    one ``AS MATERIALIZED`` (DuckDB inlines CTEs by default and each
    round references the previous twice — the same exponential-blowup
    guard the PageRank twin needs)."""
    parts = [
        "v AS MATERIALIZED (SELECT vec_id, list_transform(embedding,"
        f" x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5)"
        " AS BIGINT)) AS u FROM embeddings)",
        "vp AS MATERIALIZED (SELECT vec_id, p.pos, u[p.pos + 1] AS x"
        f" FROM v, (SELECT unnest(range({dim})) AS pos) p)",
        "c0 AS MATERIALIZED (SELECT s.rn - 1 AS cluster, vp.pos,"
        " vp.x AS c FROM (SELECT vec_id, row_number() OVER"
        f" (ORDER BY vec_id) AS rn FROM v ORDER BY vec_id LIMIT {k}) s"
        " JOIN vp USING (vec_id))",
    ]
    last_c = "c0"
    n_assign = iterations + 1  # Spark assigns once more after the loop
    for i in range(1, n_assign + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT vp.vec_id, c.cluster,"
            " CAST(SUM((vp.x - c.c) * (vp.x - c.c)) AS BIGINT) AS dist"
            f" FROM vp JOIN {last_c} c USING (pos) GROUP BY 1, 2)"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT vec_id, cluster FROM"
            " (SELECT vec_id, cluster, row_number() OVER"
            " (PARTITION BY vec_id ORDER BY dist, cluster) AS rn"
            f" FROM d{i}) WHERE rn = 1)"
        )
        if i <= iterations:
            parts.append(
                f"c{i} AS MATERIALIZED (SELECT prev.cluster, prev.pos,"
                " CAST(COALESCE(nw.c, prev.c) AS BIGINT) AS c"
                f" FROM {last_c} prev LEFT JOIN"
                " (SELECT a.cluster, vp.pos,"
                " SUM(vp.x) // count(*) AS c"
                f" FROM a{i} a JOIN vp USING (vec_id) GROUP BY 1, 2) nw"
                " ON nw.cluster = prev.cluster AND nw.pos = prev.pos)"
            )
            last_c = f"c{i}"
    if final_select is None:
        final_select = (
            "SELECT cluster, CAST(count(*) AS BIGINT) AS n_members"
            " FROM {a} GROUP BY cluster"
        )
    return (
        "WITH " + ",\n".join(parts)
        + "\n" + final_select.format(a=f"a{n_assign}")
    )


@query("embed_kmeans_clusters", oracle=_kmeans_oracle_sql())
def embed_kmeans_clusters(spark, sf_dir):
    """Corpus-diversity clustering: bit-deterministic Lloyd's k-means
    (operators/similarity.py kmeans_embeddings_exact) — map-only
    literal-centroid assignment, EXACT BIGINT distances over 1e-6
    quantized dims, floor-division centroid updates, k×d driver state.
    Upgraded round 4 from rows-only to hash-checked: the fixed
    5-iteration schedule unrolls into a DuckDB integer twin
    (_kmeans_oracle_sql), so assignment argmin, tie-breaks, centroid
    trajectory, and the final per-cluster sizes are all on the hash.
    The float-centroid variant (kmeans_embeddings) remains for API
    users and is law-checked in tests/test_llm_ops.py."""
    emb = load(spark, sf_dir, "embeddings")
    assigned = S.kmeans_embeddings_exact(emb, k=8, iterations=5)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_bucket_expr('embedding')} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             a.v AS qv, b2.v AS cv
      FROM b a JOIN b b2 USING (bucket)
      WHERE a.vec_id < b2.vec_id
    )
    SELECT id_a, id_b,
           {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
               AS cosine
    FROM pairs
    WHERE {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}) >= 0.45
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs — sign-LSH bucket self-join, exact
    cosine inside the bucket (operators/similarity.py).  The fixture's
    vectors are near-orthogonal (max pairwise cosine ~0.5), so the
    threshold sits at 0.45 to exercise non-empty results; production
    near-dup would use ~0.9+."""
    emb = load(spark, sf_dir, "embeddings")
    return S.cosine_near_dup_pairs(emb, threshold=0.45, n_bits=4)


_SEMDEDUP_TAU = 0.40

_SEMDEDUP_FINAL = f"""
emb2 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
),
m AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, e.ev
  FROM {{a}} a JOIN emb2 e USING (vec_id)
),
drp AS (
  SELECT DISTINCT y.vec_id FROM m x JOIN m y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE {_DOT.replace('qv', 'x.ev').replace('cv', 'y.ev')}
        / ({_NORM.format(v='x.ev')} * {_NORM.format(v='y.ev')})
        >= {_SEMDEDUP_TAU}
)
SELECT m.cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM m LEFT JOIN drp d ON d.vec_id = m.vec_id
GROUP BY m.cluster
"""


@query(
    "dedup_semantic_semdedup",
    oracle=_kmeans_oracle_sql(final_select=", " + _SEMDEDUP_FINAL),
)
def dedup_semantic_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup with the pairwise
    cosine bounded to k-means cells — cluster with the
    bit-deterministic exact-integer Lloyd's, compare only within each
    cluster, drop vectors that have a lower-id neighbor at cosine ≥ τ
    (min-id survivor per near-dup group).  Per-cluster audit report
    (cluster, n_members, n_dropped), fully on the hash: the oracle
    replays the SAME 5-iteration integer k-means (the
    embed_kmeans_clusters twin) and the same drop rule in DuckDB.
    τ=0.40 because the fixture's vectors are near-orthogonal (max
    pairwise cosine ~0.5); production SemDeDup uses ~0.95+.  The
    quadratic term is per-cluster exactly as published (the paper
    scales k with the corpus so cells stay bounded)."""
    emb = load(spark, sf_dir, "embeddings")
    flags = S.semantic_dedup(
        emb, k=8, iterations=5, threshold=_SEMDEDUP_TAU
    )
    return flags.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("dropped").cast("bigint").alias("n_dropped"),
    )


# ---------------------------------------------------------------------- #
# multimodal binary columns                                              #
# ---------------------------------------------------------------------- #


@query(
    "multimodal_fingerprint",
    oracle="""
    SELECT doc_id AS media_id,
           strlen(text) AS n_bytes,
           sha256(text) AS content_sha
    FROM documents
    """,
)
def multimodal_fingerprint(spark, sf_dir):
    """Binary payload integrity projection: content-address sha2 +
    byte length, computed JVM-side without decoding (text bytes stand in
    for media payloads; the layout is the real one)."""
    docs = load(spark, sf_dir, "documents")
    media = M.pack_media(docs, "doc_id", "text")
    return M.media_fingerprint(media)


@query(
    "multimodal_features",
    oracle="""
    WITH chars AS (
      SELECT doc_id, text,
             unnest(generate_series(1, strlen(text))) AS i
      FROM documents
    ),
    counts AS (
      SELECT doc_id, ord(substr(text, i, 1)) % 16 AS bin, count(*) AS c
      FROM chars GROUP BY doc_id, bin
    ),
    ranked AS (
      SELECT doc_id, bin, c,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, bin) AS rn
      FROM counts
    )
    SELECT d.doc_id AS media_id,
           16 AS dim,
           r.c / strlen(d.text) AS f_max,
           CAST(r.bin + 1 AS INTEGER) AS f_argmax
    FROM documents d JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1
    """,
)
def multimodal_features(spark, sf_dir):
    """Arrow-batched mapInPandas decode (deterministic fake codec) +
    feature summary — the full distributed multimodal plumbing."""
    docs = load(spark, sf_dir, "documents")
    media = M.pack_media(docs, "doc_id", "text")
    return M.media_features(media, fake=True)


# Deterministic synthetic PPM fixtures: pixel (x, y, channel c) of
# doc_id's image is (doc_id*31 + y*17 + x*7 + c*3) % 256, dimensions
# w = 4 + doc_id % 13, h = 4 + doc_id % 11.  The payload is built
# JVM-side (codegen: sequence → transform → unhex), the operator's
# Python codec REALLY parses it back (operators/multimodal.py
# ppm_parse — it never sees the formula), and the oracle reconstructs
# the expected OUTPUT bytes from the same formula — so a header-parse,
# stride, or resample bug surfaces as a byte-level mismatch.
_PPM_HEADER_SQL = (
    "cast(concat('P6', char(10), cast({w} as string), ' ', "
    "cast({h} as string), char(10), '255', char(10)) as binary)"
)


def _ppm_payload_sql(w: str, h: str, val: str) -> str:
    """Spark SQL expr building a canonical P6 payload; ``val`` is a
    formula over flat pixel index ``i`` (y = i div (w*3),
    x = (i % (w*3)) div 3, c = i % 3)."""
    header = _PPM_HEADER_SQL.format(w=w, h=h)
    return (
        f"concat({header}, unhex(concat_ws('', "
        f"transform(sequence(0, ({w}) * ({h}) * 3 - 1, 1), "
        f"i -> format_string('%02x', {val})))))"
    )


_RESIZE_VAL = (
    "(doc_id * 31 + (i div ((4 + doc_id % 13) * 3)) * 17"
    " + ((i % ((4 + doc_id % 13) * 3)) div 3) * 7 + (i % 3) * 3) % 256"
)


# Expected 8×8 thumbnail of the synthetic still image, rebuilt
# pixel-by-pixel from the closed formula (shared by the PPM and PNG
# resize queries — the expected DECODED pixels are format-independent).
_RESIZE_ORACLE = """
    WITH px AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
             unnest(range(0, 192)) AS i
      FROM documents
    ), v AS (
      SELECT doc_id, i,
             (doc_id * 31
              + (((i // 24) * h) // 8) * 17
              + ((((i % 24) // 3) * w) // 8) * 7
              + (i % 3) * 3) % 256 AS val
      FROM px
    ), thumb AS (
      SELECT doc_id,
             encode('P6' || chr(10) || '8 8' || chr(10) || '255'
                    || chr(10))
             || from_hex(string_agg(right('0' || to_hex(val), 2), ''
                                    ORDER BY i)) AS tb
      FROM v GROUP BY doc_id
    )
    SELECT doc_id AS media_id, 8 AS width, 8 AS height,
           octet_length(tb) AS n_bytes, hex(tb) AS thumb_hex
    FROM thumb
    """


@query("multimodal_resize", oracle=_RESIZE_ORACLE)
def multimodal_resize(spark, sf_dir):
    """REAL thumbnail stage over synthetic P6 images: the JVM builds
    each doc's PPM payload in codegen, the Arrow-batched mapInPandas
    codec parses the header, nearest-neighbor resamples to 8×8
    (src = floor(dst*src_dim/8)), and re-encodes; the oracle rebuilds
    the expected thumbnail bytes pixel-by-pixel.  Byte-level equality
    of the two 203-byte payloads is the check — no hashing, no stub."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    imgs = docs.select(
        "doc_id",
        F.expr(
            _ppm_payload_sql(
                "4 + doc_id % 13", "4 + doc_id % 11", _RESIZE_VAL
            )
        ).alias("payload"),
    )
    media = M.pack_media(imgs, "doc_id", "payload",
                         mime="image/x-portable-pixmap")
    resized = M.resize_media(media, width=8, height=8, fake=False)
    return resized.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.hex("thumb").alias("thumb_hex"),
    )


@query("multimodal_png_resize", oracle=_RESIZE_ORACLE)
def multimodal_png_resize(spark, sf_dir):
    """REAL compressed-image decode: each doc's synthetic pixels are
    encoded as a genuine PNG (stdlib zlib DEFLATE, CRC'd chunks) with
    the per-scanline filter chosen by doc_id % 5 — so every decoder
    filter path (None/Sub/Up/Average/Paeth) is exercised across the
    corpus — then the SAME resize stage as multimodal_resize sniffs the
    PNG signature, walks chunks with CRC verification, inflates,
    de-filters (operators/multimodal.py png_parse), resamples to 8×8
    and re-encodes canonical P6.  The oracle rebuilds the expected
    thumbnail from the pixel formula alone, so byte-equality proves the
    full PNG encode→decode round-trip is lossless through all five
    filters.  Scale shape: two Arrow-batched mapInPandas stages
    (encode, decode+resize), bounded per-item output — identical
    distribution posture to the PPM path."""
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def enc(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import png_encode

        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 13, 4 + d % 11
                i = np.arange(w * h * 3, dtype=np.int64)
                val = (
                    d * 31
                    + (i // (w * 3)) * 17
                    + ((i % (w * 3)) // 3) * 7
                    + (i % 3) * 3
                ) % 256
                payloads.append(
                    png_encode(
                        w, h,
                        val.astype(np.uint8).tobytes(),
                        filter_type=d % 5,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    imgs = docs.mapInPandas(enc, schema="doc_id long, payload binary")
    media = M.pack_media(imgs, "doc_id", "payload", mime="image/png")
    resized = M.resize_media(media, width=8, height=8, fake=False)
    return resized.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.hex("thumb").alias("thumb_hex"),
    )


@query(
    "multimodal_jpeg_roundtrip",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(4 + doc_id % 13 AS BIGINT) AS width,
           CAST(4 + doc_id % 11 AS BIGINT) AS height,
           1 AS within_mae, 1 AS within_max
    FROM documents
    """,
)
def multimodal_jpeg_roundtrip(spark, sf_dir):
    """REAL entropy-coded decode: each doc's synthetic pixels are
    compressed into a genuine baseline JPEG — 8×8 DCT, unit quant
    tables, Annex-K Huffman coding, 0xFF00 bit-stuffing, restart
    markers every 3 MCUs (doc_id-independent so every decoder path
    runs) — then decoded back by the pure-stdlib+numpy codec
    (operators/jpeg.py).  JPEG is LOSSY, so the checkable surface is
    the QUANTIZATION-ERROR CONTRACT instead of byte equality: per
    image, decoded dimensions plus 'mean abs error ≤ 2' and 'max abs
    error ≤ 4' flags (unit tables leave only DCT/color float-rounding,
    measured ≤2), which the oracle predicts exactly.  Error laws are
    additionally pinned in tests/test_llm_ops.py.  Scale shape: one
    Arrow-batched mapInPandas (encode → decode → compare) per batch,
    fixed-width output."""
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(it):
        import numpy as np
        import pandas as pd

        from ..operators.jpeg import jpeg_encode
        from ..operators.multimodal import parse_image

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 13, 4 + d % 11
                i = np.arange(w * h * 3, dtype=np.int64)
                src = (
                    (
                        d * 31
                        + (i // (w * 3)) * 17
                        + ((i % (w * 3)) // 3) * 7
                        + (i % 3) * 3
                    ) % 256
                ).astype(np.uint8)
                payload = jpeg_encode(
                    w, h, src.tobytes(), restart_interval=3
                )
                dw, dh, out = parse_image(payload)
                dec = np.frombuffer(out, np.uint8)
                err = np.abs(
                    src.astype(np.int64) - dec.astype(np.int64)
                )
                rows.append((
                    d, dw, dh,
                    int(err.mean() <= 2.0),
                    int(err.max() <= 4),
                ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height",
                    "within_mae", "within_max",
                ],
            )

    return docs.mapInPandas(
        roundtrip,
        schema="media_id long, width long, height long, "
               "within_mae int, within_max int",
    )


# one tiny JPEG corpus per (session, sf_dir), written ONCE driver-side —
# a stand-in for the ingest layout (production JPEG corpora already sit
# on distributed storage; the query under test is the READ side).  The
# session state reclaims the directory with its context.
def _jpeg_corpus_dir(spark, sf_dir: str) -> str:
    import numpy as np

    from ..operators.jpeg import jpeg_encode

    def build(d: str) -> None:
        ids = [
            int(r.doc_id)
            for r in load(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") % 3 == 0)
            .collect()
        ]
        for did in ids:
            w, h = 4 + did % 13, 4 + did % 11
            i = np.arange(w * h * 3, dtype=np.int64)
            src = (
                (
                    did * 31
                    + (i // (w * 3)) * 17
                    + ((i % (w * 3)) // 3) * 7
                    + (i % 3) * 3
                ) % 256
            ).astype(np.uint8)
            with open(f"{d}/d{did}.jpg", "wb") as fh:
                fh.write(
                    jpeg_encode(w, h, src.tobytes(), restart_interval=3)
                )

    return session_state(spark).staged_dir(("jpeg_corpus", sf_dir), build)


@query(
    "multimodal_jpeg_decode_jvm",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(4 + doc_id % 13 AS BIGINT) AS width,
           CAST(4 + doc_id % 11 AS BIGINT) AS height,
           1 AS within_tier, 1 AS within_src
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def multimodal_jpeg_decode_jvm(spark, sf_dir):
    """JVM ImageIO JPEG decode — the THROUGHPUT tier (r11, closing the
    one named scale-killer: the pure-Python codec's ~0.05 Mpixel/s
    floor).  A per-(session, sf_dir) corpus of genuine baseline JPEGs
    (same synthetic pixels as ``multimodal_jpeg_roundtrip``, doc_id %
    3 = 0) is decoded by ``spark.read.format("image")`` — Java ImageIO
    inside the executor JVMs, no Python in the decode path — then each
    image is cross-checked against the ORACLE tier: dimensions must be
    byte-exact, pixels within ±2 of the pure-Python decode (ISO/IEC
    10918 bounds IDCT error, so conformant decoders differ in the last
    LSBs — bit-hash equality is the wrong contract for lossy JPEG) and
    within ±4 of the pre-compression source, the same bound the
    roundtrip query pins.  The oracle predicts dims + both flags
    exactly.  Scale shape: file-parallel JVM decode, one Arrow batch
    per partition for the comparison; at 100 TB the comparison drops
    out and the scan IS the intake (measured ≥2 orders over the
    Python floor — BENCH_jpeg_jvm_r11.json)."""
    corpus = _jpeg_corpus_dir(spark, sf_dir)
    imgs = M.read_images_jvm(spark, corpus)
    keyed = imgs.withColumn(
        "media_id",
        F.regexp_extract(F.col("origin"), r"d(\d+)\.jpg$", 1).cast("long"),
    ).select("media_id", "origin", "width", "height", "data_bgr")

    def compare(it):
        import numpy as np
        import pandas as pd

        from ..operators.jpeg import jpeg_parse

        for pdf in it:
            rows = []
            for did, origin, w, h, bgr in zip(
                pdf["media_id"], pdf["origin"], pdf["width"],
                pdf["height"], pdf["data_bgr"]
            ):
                did, w, h = int(did), int(w), int(h)
                i = np.arange(w * h * 3, dtype=np.int64)
                src = (
                    (
                        did * 31
                        + (i // (w * 3)) * 17
                        + ((i % (w * 3)) // 3) * 7
                        + (i % 3) * 3
                    ) % 256
                )
                # BGR→RGB inline (same stride flip bgr_to_rgb performs):
                # chaining the bgr_to_rgb pandas UDF here added a SECOND
                # ArrowEvalPython node — two JVM↔Python transfers of the
                # pixel payloads per run where one suffices (guide §4.1;
                # measured +0.4 s of the 1.5 s warm query at sf0.01)
                jvm = (
                    np.frombuffer(bytes(bgr), np.uint8)
                    .reshape(-1, 3)[:, ::-1]
                    .reshape(-1)
                    .astype(np.int64)
                )
                # the oracle-tier pixels come from jpeg_parse of the
                # corpus file ITSELF — the file holds exactly the
                # jpeg_encode(w, h, src) payload the corpus builder
                # wrote, so re-encoding it here (the old path) ran the
                # expensive encoder once per image for bytes we
                # already have on shared storage (guide §4.2: do less
                # work per batch, not just faster work)
                with open(origin.removeprefix("file:"), "rb") as fh:
                    _, _, out = jpeg_parse(fh.read())
                py = np.frombuffer(out, np.uint8).astype(np.int64)
                rows.append((
                    did, w, h,
                    int(np.abs(jvm - py).max() <= 2),
                    int(np.abs(jvm - src).max() <= 4),
                ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height",
                    "within_tier", "within_src",
                ],
            )

    return keyed.mapInPandas(
        compare,
        schema="media_id long, width long, height long, "
               "within_tier int, within_src int",
    )


# Frame f of doc_id's container: w = 3 + (doc_id + f) % 5,
# h = 2 + (doc_id + f) % 3, pixel value adds f*13 to the still formula.
_FRAME_W = "(3 + (doc_id + f) % 5)"
_FRAME_H = "(2 + (doc_id + f) % 3)"
_FRAME_VAL = (
    f"(doc_id * 31 + f * 13 + (i div ({_FRAME_W} * 3)) * 17"
    f" + ((i % ({_FRAME_W} * 3)) div 3) * 7 + (i % 3) * 3) % 256"
)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH fr AS (
      SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS f
      FROM documents
    ), dims AS (
      SELECT doc_id, f, 3 + (doc_id + f) % 5 AS w, 2 + (doc_id + f) % 3 AS h
      FROM fr
    ), px AS (
      SELECT doc_id, f, w, h, unnest(range(0, w * h * 3)) AS i
      FROM dims
    ), v AS (
      SELECT doc_id, f, w, h, i,
             (doc_id * 31 + f * 13 + (i // (w * 3)) * 17
              + ((i % (w * 3)) // 3) * 7 + (i % 3) * 3) % 256 AS val
      FROM px
    ), frames AS (
      SELECT doc_id, f,
             encode('P6' || chr(10) || CAST(w AS VARCHAR) || ' '
                    || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10))
             || from_hex(string_agg(right('0' || to_hex(val), 2), ''
                                    ORDER BY i)) AS fb
      FROM v GROUP BY doc_id, f, w, h
    )
    SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
           octet_length(fb) AS frame_bytes, hex(fb) AS frame_hex
    FROM frames
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """REAL frame extraction from an uncompressed video container
    (consecutive P6 frames, variable per-frame dimensions): the JVM
    concatenates 1 + doc_id % 4 frames per doc in codegen, the
    mapInPandas codec walks the container header-by-header slicing
    exact frame extents (1→N rows inside one Arrow batch, no
    explode/join/shuffle), and the oracle rebuilds every expected
    frame byte-for-byte."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    frame_expr = _ppm_payload_sql(_FRAME_W, _FRAME_H, _FRAME_VAL)
    container = docs.select(
        "doc_id",
        F.expr(
            "aggregate(transform(sequence(0, doc_id % 4, 1), "
            f"f -> {frame_expr}), cast('' as binary), "
            "(acc, x) -> concat(acc, x))"
        ).alias("payload"),
    )
    media = M.pack_media(container, "doc_id", "payload",
                         modality="video",
                         mime="video/x-concatenated-ppm")
    frames = M.sample_frames(media, fake=False)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame").alias("frame_bytes"),
        F.hex("frame").alias("frame_hex"),
    )


# Synthetic PCM with PLANTED near-dups: each doc's waveform derives
# from a SEED — doc_ids with doc_id % 50 in {0, 1} share their
# 50-block's base seed (so exactly one planted duplicate pair per
# 50-doc block: ids 50m and 50m+1 — LINEAR in corpus size), every
# other doc seeds itself.  Sample k is CONSTANT within each 16-sample
# energy window, valued by the engine-portable md5 idiom over
# (seed, window): the per-window energy sequence is 63 bits of
# seed-keyed pseudorandomness, so the energy-delta fingerprint of two
# different seeds collides within hamming 3 with probability
# ~C(63,<=3)/2^63 — only the planted pairs match.  (Round-7 history:
# a LINEAR-in-doc_id formula collapsed under % 256 to f(doc_id % 256)
# — 50K sf1 docs in 256 identical-fingerprint cliques, collect blew
# spark.driver.maxResultSize; a shared-shape fix still left ~1-6% of
# ALL pairs within hamming 3.  md5 per (seed, window) is the fix that
# scales: accidental pairs vanish at every derived SF.)
_WAV_SEED = ("(CASE WHEN doc_id % 50 < 2"
             " THEN (doc_id div 50) * 50 ELSE doc_id END)")
_WAV_N = "(1024 + (doc_id % 3) * 256)"
_WAV_U = ("pmod((cast(conv(substring(md5(concat("
          f"cast({_WAV_SEED} as string), ':',"
          " cast(k div 16 as string))), 1, 4), 16, 10) as bigint)"
          " % 256 - 128) * 256, 65536)")


def _wav_payload_sql(n: str) -> str:
    """Spark SQL expr building a canonical RIFF/WAVE (16-bit mono PCM
    @16 kHz) payload for ``n`` samples of the `_WAV_U` formula — the
    audio twin of ``_ppm_payload_sql``.  Static header fields are
    pre-rendered little-endian hex; only the two size fields are
    computed."""
    dsize = f"(({n}) * 2)"
    le32 = (
        "format_string('%02x%02x%02x%02x', ({x}) % 256,"
        " (({x}) div 256) % 256, (({x}) div 65536) % 256,"
        " (({x}) div 16777216) % 256)"
    )
    riff_size = le32.format(x=f"(36 + {dsize})")
    data_size = le32.format(x=dsize)
    return (
        "unhex(concat('52494646', "          # 'RIFF'
        f"{riff_size}, "
        "'57415645666d7420', "               # 'WAVE' 'fmt '
        "'10000000', "                       # fmt chunk size 16
        "'0100', '0100', "                   # PCM, mono
        "'803e0000', '007d0000', "           # 16000 Hz, 32000 B/s
        "'0200', '1000', "                   # block align 2, 16-bit
        "'64617461', "                       # 'data'
        f"{data_size}, "
        f"concat_ws('', transform(sequence(0, ({n}) - 1, 1), "
        f"k -> format_string('%02x%02x', ({_WAV_U}) % 256, "
        f"({_WAV_U}) div 256)))))"
    )


@query(
    "multimodal_audio_energy",
    oracle="""
    WITH r AS (SELECT unnest(range(0, 1536)) AS k),
    s AS (
      SELECT doc_id, k,
             (CAST(('0x' || substring(md5(CAST(sd AS VARCHAR)
                 || ':' || CAST(k // 16 AS VARCHAR)), 1, 4)) AS BIGINT)
                % 256 - 128) * 256 AS samp
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 50 < 2
                        THEN (doc_id // 50) * 50
                        ELSE doc_id END AS sd
            FROM documents), r
      WHERE k < 1024 + (doc_id % 3) * 256
    )
    SELECT doc_id AS media_id, k // 256 AS window_idx,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(samp * samp) AS BIGINT) AS energy,
           CAST(max(abs(samp)) AS BIGINT) AS peak
    FROM s GROUP BY 1, 2
    """,
)
def multimodal_audio_energy(spark, sf_dir):
    """REAL audio decode: the JVM builds each doc's canonical RIFF/WAVE
    payload in codegen (header + 16-bit LE PCM), the Arrow-batched
    mapInPandas stage parses it with the stdlib ``wave`` module and
    emits per-256-sample window energy/peak in EXACT int64
    (operators/multimodal.py audio_energy).  The oracle replays the
    PCM formula directly — if the WAV round-trip dropped or reordered
    a single sample, the energy hashes diverge.  Completes the honest-
    decode modality set: PPM stills, concatenated-PPM video, PCM
    audio."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    tracks = docs.select(
        "doc_id", F.expr(_wav_payload_sql(_WAV_N)).alias("payload")
    )
    media = M.pack_media(tracks, "doc_id", "payload",
                         modality="audio", mime="audio/wav")
    return M.audio_energy(media, window=256)


# Synthetic G.711 track: doc_id's stream has 800 + (doc_id % 4) * 160
# mu-law CODES (not PCM), code k = (doc_id*13 + k*5) % 256.
_MULAW_N = "(800 + (doc_id % 4) * 160)"
_MULAW_B = "((doc_id * 13 + k * 5) % 256)"


def _mulaw_wav_payload_sql(n: str) -> str:
    """Spark SQL expr building a RIFF/WAVE **G.711 mu-law** payload
    (format tag 7, 8-bit mono @8 kHz) for ``n`` codes of the
    `_MULAW_B` formula — the compressed-audio twin of
    ``_wav_payload_sql``."""
    le32 = (
        "format_string('%02x%02x%02x%02x', ({x}) % 256,"
        " (({x}) div 256) % 256, (({x}) div 65536) % 256,"
        " (({x}) div 16777216) % 256)"
    )
    riff_size = le32.format(x=f"(36 + ({n}))")
    data_size = le32.format(x=f"({n})")
    return (
        "unhex(concat('52494646', "          # 'RIFF'
        f"{riff_size}, "
        "'57415645666d7420', "               # 'WAVE' 'fmt '
        "'10000000', "                       # fmt chunk size 16
        "'0700', '0100', "                   # G.711 mu-law, mono
        "'401f0000', '401f0000', "           # 8000 Hz, 8000 B/s
        "'0100', '0800', "                   # block align 1, 8-bit
        "'64617461', "                       # 'data'
        f"{data_size}, "
        f"concat_ws('', transform(sequence(0, ({n}) - 1, 1), "
        f"k -> format_string('%02x', {_MULAW_B})))))"
    )


@query(
    "multimodal_audio_mulaw_energy",
    oracle="""
    WITH r AS (SELECT unnest(range(0, 1280)) AS k),
    u AS (
      SELECT doc_id, k, 255 - (doc_id * 13 + k * 5) % 256 AS u
      FROM documents, r
      WHERE k < 800 + (doc_id % 4) * 160
    ),
    s AS (
      SELECT doc_id, k,
             CASE WHEN u >= 128 THEN
               -(((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132)
             ELSE
               ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
             END AS samp
      FROM u
    )
    SELECT doc_id AS media_id, k // 256 AS window_idx,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(samp * samp) AS BIGINT) AS energy,
           CAST(max(abs(samp)) AS BIGINT) AS peak
    FROM s GROUP BY 1, 2
    """,
)
def multimodal_audio_mulaw_energy(spark, sf_dir):
    """REAL compressed-audio decode: the JVM builds each doc's G.711
    mu-law RIFF/WAVE payload in codegen (format tag 7, 8-bit codes),
    the Arrow-batched mapInPandas stage walks the RIFF chunks and
    EXPANDS the companded codes to linear int16 by the exact ITU-T
    integer formula (operators/multimodal.py mulaw_expand — bit-equal
    to the classic ulaw2linear16 tables, cross-checked against
    audioop in tests), then windows energy/peak in exact int64.  The
    oracle replays code synthesis + expansion + windowing as pure
    integer SQL, so a single mis-expanded sample diverges the hash —
    a COMPRESSED format with an exact cross-engine oracle, which the
    lossy-DCT JPEG path cannot offer."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    tracks = docs.select(
        "doc_id", F.expr(_mulaw_wav_payload_sql(_MULAW_N)).alias("payload")
    )
    media = M.pack_media(tracks, "doc_id", "payload",
                         modality="audio", mime="audio/basic")
    return M.audio_energy(media, window=256)


@query(
    "text_bpe_apply",
    oracle=r"""
    SELECT doc_id AS id,
           CAST(length(regexp_replace(text, '\s', '', 'g'))
                - len(regexp_extract_all(text, 'th'))
                - len(regexp_extract_all(text, 'er'))
                - len(regexp_extract_all(text, 'an')) AS BIGINT)
               AS n_tokens,
           CAST(len(regexp_extract_all(text, 'th'))
                + len(regexp_extract_all(text, 'er'))
                + len(regexp_extract_all(text, 'an')) AS BIGINT)
               AS n_merges
    FROM documents
    """,
)
def text_bpe_apply(spark, sf_dir):
    """REAL BPE tokenization (operators/text.py bpe_apply): the ranked
    merge loop runs over every word — characters fuse pair by pair,
    left-to-right, rank by rank — and the checkable surface is exact
    by construction: the registered merge table {th, er, an} uses
    pairwise-DISJOINT alphabets, so merges can never overlap, chain,
    or depend on rank order, and the token count closes to
    ``non-space chars − non-overlapping pair occurrences``, which the
    oracle computes with regexp_count (non-overlapping in both
    engines, and both sides of each pair are letters so no occurrence
    spans a word boundary).  Equality proves the real loop applies
    exactly the right merges, greedily, everywhere.  Rank-ordered and
    CHAINED merge behavior (where closed forms don't exist) is pinned
    on hand-built examples in tests/test_llm_ops.py.  Map-only
    Arrow-batched plan."""
    from ..operators.text import bpe_apply

    docs = load(spark, sf_dir, "documents")
    return bpe_apply(
        docs, "doc_id", "text", [("t", "h"), ("e", "r"), ("a", "n")]
    )


@query(
    "ml_ols_sufficient_stats",
    oracle="""
    WITH u AS (
      SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS u1,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS u2,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS u3,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS g00,
           CAST(sum(u1) AS BIGINT) AS g01,
           CAST(sum(u2) AS BIGINT) AS g02,
           CAST(sum(u3) AS BIGINT) AS g03,
           CAST(sum(u1 * u1) AS BIGINT) AS g11,
           CAST(sum(u1 * u2) AS BIGINT) AS g12,
           CAST(sum(u1 * u3) AS BIGINT) AS g13,
           CAST(sum(u2 * u2) AS BIGINT) AS g22,
           CAST(sum(u2 * u3) AS BIGINT) AS g23,
           CAST(sum(u3 * u3) AS BIGINT) AS g33,
           CAST(sum(y) AS BIGINT) AS b0,
           CAST(sum(u1 * y) AS BIGINT) AS b1,
           CAST(sum(u2 * y) AS BIGINT) AS b2,
           CAST(sum(u3 * y) AS BIGINT) AS b3
    FROM u
    """,
)
def ml_ols_sufficient_stats(spark, sf_dir):
    """Closed-form distributed OLS (operators/ml.py): price ~
    quantity + discount + tax over the full lineitem fact, trained in
    ONE pass — exact BIGINT Gram matrix + moment vector in a single
    map-side-combined aggregate (no shuffle of feature rows, d²=16
    numbers of driver state), the scale pattern for every
    covariance-based model.  The checkable surface IS the training
    input: the oracle replays the quantized sums, so a single dropped
    row or unit mismatch diverges; the d×d solve (ols_fit) is
    driver-side float after the hash and law-checked in
    tests/test_llm_ops.py."""
    from ..operators.ml import ols_sufficient_stats

    li = load(spark, sf_dir, "lineitem")
    return ols_sufficient_stats(
        li,
        [
            F.expr("CAST(floor(l_quantity + 0.5d) AS BIGINT)"),
            F.expr("CAST(floor(l_discount * 100 + 0.5d) AS BIGINT)"),
            F.expr("CAST(floor(l_tax * 100 + 0.5d) AS BIGINT)"),
        ],
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5d) AS BIGINT)"),
    )


@query(
    "text_html_extract",
    oracle=r"""
    SELECT doc_id AS id,
           'Doc ' || doc_id AS title,
           sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS sha,
           CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g')))
                AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_html_extract(spark, sf_dir):
    """HTML → main-text extraction (the step between WARC ingestion
    and text curation, what trafilatura does in production): each doc
    is wrapped into a full page — <title>, <nav>/<header>/<footer>
    chrome, a <script> payload, entity-escaped body inside <article> —
    and operators/text.py html_extract_text must recover EXACTLY the
    title and the whitespace-collapsed article text while dropping
    every piece of boilerplate: the oracle rebuilds the expected text
    from the table alone, so a leaked nav item, a surviving script
    token, an unescaped entity, or a whitespace deviation all diverge
    the hash.  Map-only plan (two Arrow-batched stages, no
    shuffle)."""
    import pandas as pd

    from ..operators.text import html_extract_text

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def to_html(it):
        import html as _html

        for pdf in it:
            pages = []
            for r in pdf.itertuples():
                body = _html.escape(r.text)
                pages.append(
                    f"<html><head><title>Doc {int(r.doc_id)}</title>"
                    "<style>body { margin: 0 }</style></head>"
                    "<body><nav>Home | <a href=\"/a\">About</a></nav>"
                    "<header><h1>Site Header</h1></header>"
                    f"<article><p>{body}</p></article>"
                    "<footer>&copy; example.com</footer>"
                    "<script>var x = 1 < 2 && 3 > 2;</script>"
                    "</body></html>"
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "page": pages}
            )

    pages = docs.mapInPandas(
        to_html, schema="doc_id long, page string"
    )
    out = html_extract_text(pages, "doc_id", "page")
    return out.select(
        "id", "title", F.sha2("text", 256).alias("sha"), "n_chars"
    )


@query(
    "scan_zip_members",
    oracle="""
    SELECT doc_id // 5 AS archive_id,
           'doc_' || doc_id || '.txt' AS member_name,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    """,
)
def scan_zip_members(spark, sf_dir):
    """Archive ingestion stage 1: documents grouped five-per-archive
    into REAL DEFLATE zip files (stdlib zipfile, pinned timestamps)
    inside a grouped applyInPandas, then expanded back one-row-per-
    member by operators/archive.py expand_zip — the 'collection dump →
    rows' step every real corpus intake starts with.  Content is
    re-hashed JVM-side after extraction; the oracle hashes the same
    text straight from the table, so a single member lost, renamed, or
    corrupted by the compress/decompress round-trip diverges the
    hash."""
    import pandas as pd

    from ..operators import archive as A

    docs = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") / 5).cast("long").alias("archive_id"),
        "doc_id",
        "text",
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        members = [
            (f"doc_{int(r.doc_id)}.txt", r.text.encode("utf-8"))
            for r in pdf.sort_values("doc_id").itertuples()
        ]
        return pd.DataFrame(
            {
                "media_id": [int(pdf["archive_id"].iloc[0])],
                "payload": [A.zip_bytes(members)],
            }
        )

    archives = docs.groupBy("archive_id").applyInPandas(
        build, schema="media_id long, payload binary"
    )
    return A.expand_zip(archives).select(
        "archive_id",
        "member_name",
        "n_bytes",
        F.sha2("content", 256).alias("sha"),
    )


@query(
    "scan_tar_members",
    oracle="""
    SELECT doc_id // 5 AS archive_id,
           'doc_' || doc_id || '.txt' AS member_name,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    """,
)
def scan_tar_members(spark, sf_dir):
    """Same intake contract as scan_zip_members but through the
    tar.gz path (stdlib tarfile + gzip, zeroed mtimes): the dump
    format papers/code corpora actually arrive in.  Identical oracle —
    the member surface is format-independent, which is the point."""
    import pandas as pd

    from ..operators import archive as A

    docs = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") / 5).cast("long").alias("archive_id"),
        "doc_id",
        "text",
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        members = [
            (f"doc_{int(r.doc_id)}.txt", r.text.encode("utf-8"))
            for r in pdf.sort_values("doc_id").itertuples()
        ]
        return pd.DataFrame(
            {
                "media_id": [int(pdf["archive_id"].iloc[0])],
                "payload": [A.tar_gz_bytes(members)],
            }
        )

    archives = docs.groupBy("archive_id").applyInPandas(
        build, schema="media_id long, payload binary"
    )
    return A.expand_tar(archives, gzipped=True).select(
        "archive_id",
        "member_name",
        "n_bytes",
        F.sha2("content", 256).alias("sha"),
    )


@query(
    "scan_warc_records",
    oracle="""
    SELECT doc_id AS archive_id, 0 AS record_idx,
           'response' AS warc_type,
           'https://example.com/' || doc_id AS target_uri,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    UNION ALL
    SELECT doc_id, 1, 'metadata',
           'https://example.com/' || doc_id,
           octet_length(encode('lang=' || lang)),
           sha256('lang=' || lang)
    FROM documents
    """,
)
def scan_warc_records(spark, sf_dir):
    """Web-crawl ingestion: each doc becomes a WARC/1.0 file with a
    response record (the page body) and a metadata record, built with
    standard framing (version line, headers, Content-Length-exact
    payload, CRLFCRLF separators) and parsed back by
    operators/archive.py parse_warc — the Common-Crawl-shaped entry
    point of an LLM data pipeline.  Framing violations raise instead
    of truncating; the oracle rebuilds every record's uri/length/hash
    from the table, so record order, header parsing, and payload
    byte-exactness are all on the hash."""
    import pandas as pd

    from ..operators import archive as A

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )

    def build(it):
        for pdf in it:
            payloads = []
            for r in pdf.itertuples():
                uri = f"https://example.com/{int(r.doc_id)}"
                payloads.append(
                    A.warc_bytes([
                        ("response", uri, r.text.encode("utf-8")),
                        ("metadata", uri,
                         f"lang={r.lang}".encode("utf-8")),
                    ])
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    warcs = docs.mapInPandas(
        build, schema="media_id long, payload binary"
    )
    return A.parse_warc(warcs).select(
        "archive_id",
        "record_idx",
        "warc_type",
        "target_uri",
        "n_bytes",
        F.sha2("payload", 256).alias("sha"),
    )


@query(
    "scan_binary_files",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha
    FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 64)
    """,
)
def scan_binary_files(spark, sf_dir):
    """Raw-file multimodal ingestion round-trip: the first 64 documents
    are staged as loose ``{doc_id}.bin`` files (harness fixture), read
    back through Spark's REAL ``binaryFile`` source, and content-
    verified against the table — doc_id recovered from the file path,
    payload re-hashed JVM-side (sha2 over the binary column).  The
    oracle hashes the same bytes straight from ``documents``, so a
    staging bug, a listing bug, or payload corruption all surface as a
    hash mismatch.  Glob pushdown (``pathGlobFilter``) keeps
    non-matching files out of the file index entirely."""
    from ..sources import prepare_media_dir, read_binary_files

    path = prepare_media_dir(spark, sf_dir, n_docs=64)
    files = read_binary_files(spark, path, glob="*.bin")
    return files.select(
        F.regexp_extract(F.col("path"), r"([0-9]+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.length("content").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("sha"),
    )


@query(
    "text_boilerplate",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS u
      FROM documents
    ), d AS (
      SELECT u, count(DISTINCT doc_id) AS nd FROM w GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    boiler AS (
      SELECT u FROM d, n WHERE nd >= CAST(n_docs AS DOUBLE) * 0.5
    ), kept AS (
      SELECT doc_id, pos, u FROM w
      WHERE u NOT IN (SELECT u FROM boiler)
    ), agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(u, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY 1
    )
    SELECT doc.doc_id AS id,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(string_split(doc.text, ' '))
                - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
           md5(a.clean_text) AS clean_md5
    FROM documents doc LEFT JOIN agg a ON doc.doc_id = a.doc_id
    """,
)
def text_boilerplate(spark, sf_dir):
    """Corpus-frequency boilerplate removal (C4-style): units occurring
    in ≥50% of all documents are dropped and each document is
    reassembled from its surviving units in original order
    (operators/text.py remove_boilerplate; unit='word' here because the
    fixture corpus is single-line — the line mode that real web corpora
    use is pinned by tests/test_llm_ops.py).  Join back on
    xxhash64(unit) 8-byte keys with a post-join string equality check,
    reassembly via per-doc sorted collect — never a cross join, never
    driver-side.  Output text is md5'd to keep the checked surface
    compact."""
    docs = load(spark, sf_dir, "documents")
    out = T.remove_boilerplate(
        docs, "doc_id", "text", unit="word", min_doc_frac=0.5
    )
    return out.select(
        "id", "n_kept", "n_removed", F.md5("clean_text").alias("clean_md5")
    )


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    idx AS (
      SELECT doc_id, ws,
             unnest(generate_series(1, greatest(len(ws) - 1, 1))) AS i
      FROM words
    ),
    sh2 AS (
      SELECT DISTINCT doc_id AS id, array_to_string(ws[i:i+1], ' ')
                 AS shingle
      FROM idx
    ),
    c AS (SELECT id, {_H} AS h FROM sh2 WHERE id >= 100),
    r AS (SELECT DISTINCT {_H} AS h FROM sh2 WHERE id < 100)
    SELECT c.id, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unseen
    FROM c LEFT JOIN r ON c.h = r.h
    GROUP BY c.id
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """Bigram novelty of each corpus doc (doc_id ≥ 100) against the
    reference slice (doc_id < 100): distinct-bigram join on int64
    hashes, per-doc exact unseen counts (operators/text.py
    ngram_novelty) — the data-valuation proxy for 'does this document
    add anything new'.  Linear in corpus bigrams, broadcast-or-shuffle
    chosen by stats on the deduped reference side."""
    docs = load(spark, sf_dir, "documents")
    return T.ngram_novelty(
        docs.filter(F.col("doc_id") >= 100),
        docs.filter(F.col("doc_id") < 100),
        "doc_id", "text", n=2,
    )


@query(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    hs AS (SELECT id, {_H} AS h FROM sh),
    sizes AS (SELECT id, count(*) AS sz FROM hs GROUP BY id),
    freq AS (SELECT h, count(*) AS df FROM hs GROUP BY h),
    ranked AS (
      SELECT hs.id, hs.h,
             row_number() OVER (PARTITION BY hs.id ORDER BY f.df, hs.h)
                 AS rn,
             s.sz
      FROM hs JOIN freq f USING (h) JOIN sizes s USING (id)
    ),
    pfx AS (
      SELECT id, h FROM ranked
      WHERE rn <= sz - ((sz * 1 + 2 - 1) // 2) + 1
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM pfx a JOIN pfx b USING (h) WHERE a.id < b.id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN hs x ON x.id = c.id_a
      JOIN hs y ON y.id = c.id_b AND y.h = x.h
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b, CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE 2 * i.n_inter >= 1 * (sa.sz + sb.sz - i.n_inter)
    """,
)
def dedup_jaccard_prefix(spark, sf_dir):
    """EXACT Jaccard ≥ 0.5 pairs via prefix filtering (PPJoin family):
    each doc joins only on its sz − ceil(sz/2) + 1 globally-RAREST
    shingles (pigeonhole-complete for the threshold), then candidates
    verify with full intersection counts and integer cross-
    multiplication — no float Jaccard, no all-shingle self-join
    (operators/dedup.py jaccard_pairs_prefix_filter).  The third
    Jaccard tier: exact like the naive join, prunes like LSH."""
    return D.jaccard_pairs_prefix_filter(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, t_num=1, t_den=2,
    )


@query(
    "etl_rebalance_corpus",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 AS bucket
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM b
    WHERE bucket < CASE lang
                     WHEN 'en' THEN 4000
                     WHEN 'fr' THEN 8000
                     ELSE 10000 END
    GROUP BY lang
    """,
)
def etl_rebalance_corpus(spark, sf_dir):
    """Per-language corpus rebalancing: downsample the dominant
    language (en 40%, fr 80%, all others kept) with the deterministic
    md5-bucket mechanism — the quota step every multilingual training
    mix applies, reproducible across runs and engines so the sampled
    corpus itself hash-checks (operators/etl.py
    stratified_hash_sample).  Map-only filter; the tiny per-language
    rollup gives the driver a checkable surface."""
    from ..operators.etl import stratified_hash_sample

    docs = load(spark, sf_dir, "documents")
    s = stratified_hash_sample(
        docs, "doc_id", "lang",
        {"en": 0.4, "fr": 0.8, "es": 1.0, "zh": 1.0, "de": 1.0},
    )
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.sum("doc_id").alias("id_sum"),
    )


@query(
    "dedup_quality_survivor",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY a.id, b.id
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    bidir AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM bidir
      UNION
      SELECT r.u, b.v FROM reach r JOIN bidir b ON r.v = b.u
    ),
    comp AS (
      SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    ),
    labeled AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT doc_id, component,
           first_value(doc_id) OVER w AS survivor_id,
           doc_id = first_value(doc_id) OVER w AS is_survivor
    FROM labeled
    WINDOW w AS (PARTITION BY component
                 ORDER BY n_chars DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING)
    """,
)
def dedup_quality_survivor(spark, sf_dir):
    """Quality-aware cluster survivor election — the composition a real
    corpus cleanup runs: near-dup pairs → transitive clusters
    (large-star/small-star CC) → keep the LONGEST member per cluster
    (tie → min id), not blindly the min id.  One window per component
    on top of the cluster map; everything upstream is the same bounded
    candidate machinery as dedup_clusters."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_similar_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1,
        max_shingle_freq=None,
    ).select("id_a", "id_b")
    cc = G.resolve_duplicates(
        docs.select("doc_id", "n_chars"), pairs, "doc_id"
    )
    w = (
        W.partitionBy("component")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return cc.select(
        "doc_id",
        "component",
        F.first("doc_id").over(w).alias("survivor_id"),
        (F.col("doc_id") == F.first("doc_id").over(w)).alias("is_survivor"),
    )


@query(
    "sim_semantic_decontaminate",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_bucket_expr('embedding')} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT c.vec_id AS corpus_id, r.vec_id AS ref_id,
             c.v AS qv, r.v AS cv
      FROM b c JOIN b r USING (bucket)
      WHERE c.vec_id >= 100 AND r.vec_id < 100
    )
    SELECT corpus_id, ref_id,
           {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
               AS cosine
    FROM pairs
    WHERE {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')}) >= 0.4
    """,
)
def sim_semantic_decontaminate(spark, sf_dir):
    """SEMANTIC benchmark decontamination: corpus embeddings
    (vec_id ≥ 100) matched against the eval-set slice (vec_id < 100)
    by cosine within shared sign-LSH buckets — catches the paraphrased
    contamination that n-gram `text_decontaminate` cannot see
    (operators/similarity.py cosine_cross_set_pairs).  The reference
    side is the broadcast side at scale; threshold 0.4 exercises
    non-empty results on the near-orthogonal fixture vectors."""
    emb = load(spark, sf_dir, "embeddings")
    return S.cosine_cross_set_pairs(
        emb.filter(F.col("vec_id") >= 100),
        emb.filter(F.col("vec_id") < 100),
        threshold=0.4, n_bits=4,
    )


@query(
    "etl_cap_per_domain",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def etl_cap_per_domain(spark, sf_dir):
    """Per-domain document cap (≤ 10 docs per source) by deterministic
    md5 hash rank — a reproducible uniform draw, so the kept set
    itself hash-checks and stays stable as the corpus grows
    (operators/etl.py cap_per_group).  Runs through the salted
    two-phase top-k: domains are the canonical hot key, and the cap
    must not serialize a mega-host through one reducer."""
    from ..operators.etl import cap_per_group

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", "doc_id", 10)


@query(
    "text_chunk_documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    idx AS (
      SELECT doc_id, ws,
             unnest(generate_series(
               0, (greatest(len(ws) - 64, 0) + 47) // 48)) AS i
      FROM w
    )
    SELECT doc_id AS id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(len(ws[i*48+1 : i*48+64]) AS BIGINT) AS n_tokens,
           array_to_string(ws[i*48+1 : i*48+64], ' ') AS chunk_text
    FROM idx
    """,
)
def text_chunk_documents(spark, sf_dir):
    """Sliding-window chunking (64-token windows, stride 48 — 16-token
    overlap): the retrieval/embedding prep stage, as a map-only HOF
    pipeline (split once, slice per index in codegen, posexplode) —
    no shuffle, output width bounded by the chunk size
    (operators/text.py chunk_documents).  Every token lands in ≥ 1
    chunk; boundary sentences appear in two."""
    return T.chunk_documents(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_tokens=64, stride=48,
    )


@query(
    "dedup_substring_spans",
    oracle="""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= 40
    ),
    w AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text) - 39)) AS s
      FROM d
    ),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || substring(md5(substring(text, s, 40)), 1, 8))
                  AS BIGINT) AS hh
      FROM w
    ),
    shared AS (
      SELECT hh FROM h GROUP BY hh HAVING count(DISTINCT doc_id) >= 2
    ),
    f AS (SELECT doc_id, s FROM h JOIN shared USING (hh)),
    s1 AS (
      SELECT doc_id, s,
             CASE WHEN s - COALESCE(lag(s) OVER (
                    PARTITION BY doc_id ORDER BY s), s) > 40
                  THEN 1 ELSE 0 END AS brk
      FROM f
    ),
    s2 AS (
      SELECT doc_id, s,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM s1
    )
    SELECT doc_id AS id,
           CAST(min(s) AS BIGINT) AS span_start,
           CAST(max(s) + 39 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM s2 GROUP BY doc_id, island
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Substring-level exact dedup (Lee et al., ACL '22) as relational
    algebra: every stride-1 40-char window hashed in one codegen
    transform, windows shared by ≥ 2 docs flagged, flagged starts
    merged into maximal spans by island detection — the ranges a
    training pipeline would clip instead of dropping whole documents
    (operators/dedup.py duplicated_substring_spans).  All shuffles are
    hash-keyed (window hash, then doc id); a suffix array can't shard
    like that."""
    return D.duplicated_substring_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        window_chars=40,
    )


@query(
    "text_lm_bigram_score",
    oracle="""
    WITH w AS (
      SELECT doc_id AS id, string_split(lower(text), ' ') AS ws
      FROM documents
    ),
    bg AS (
      SELECT id,
             unnest([ws[i] || ' ' || ws[i + 1]
                     FOR i IN range(1, len(ws))]) AS shingle
      FROM w
      WHERE len(ws) >= 2
    ),
    keyed AS (
      SELECT id,
             CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT)
                 AS bgh,
             CAST(('0x' || substring(md5(split_part(shingle, ' ', 1)),
                                     1, 8)) AS BIGINT) AS pfh
      FROM bg
    ),
    cb AS (SELECT bgh, count(*) AS c_bg FROM keyed GROUP BY bgh),
    cp AS (SELECT pfh, count(*) AS c_pf FROM keyed GROUP BY pfh)
    SELECT k.id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(FLOOR(1000000.0 * cb.c_bg / cp.c_pf) AS BIGINT))
                AS BIGINT) AS lm_score_ppm
    FROM keyed k JOIN cb USING (bgh) JOIN cp USING (pfh)
    GROUP BY k.id
    """,
)
def text_lm_bigram_score(spark, sf_dir):
    """Corpus-fit bigram-LM quality scoring (CCNet-shaped): P(w2|w1)
    MLE in exact parts-per-million, summed per document
    (operators/text.py bigram_lm_scores).  Model-fit aggregations
    joined back to the corpus they were fitted on — zipf-bounded count
    tables, 8-byte join keys."""
    return T.bigram_lm_scores(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "text_bpe_pairs",
    oracle="""
    WITH wlist AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    p AS (
      SELECT unnest([substring(w, i, 2)
                     FOR i IN range(1, length(w))]) AS pair
      FROM wlist
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n_pairs
    FROM p GROUP BY pair
    ORDER BY n_pairs DESC, pair ASC
    LIMIT 20
    """,
)
def text_bpe_pairs(spark, sf_dir):
    """BPE tokenizer-training substrate: corpus-wide adjacent
    character-pair frequencies inside lowercase letter runs, top-20
    with a total-order tie-break (operators/text.py bpe_pair_counts).
    One explode + one short-string count shuffle; each BPE merge
    iteration at scale is exactly this aggregation re-run."""
    return T.bpe_pair_counts(
        load(spark, sf_dir, "documents"), "text", top_k=20
    )


@query(
    "text_filter_funnel",
    oracle="""
    WITH base AS (
      SELECT source,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             string_split(text, ' ') AS ws
      FROM documents
    ),
    gr AS (
      SELECT source, n_chars, n_alpha, len(ws) AS n_words,
             [array_to_string(ws[i:i+1], ' ')
              FOR i IN range(1, greatest(len(ws), 2))] AS grams
      FROM base
    ),
    gates AS (
      SELECT source,
             (CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) >= 0.6)
                 AS g1,
             (n_words >= 5 AND
              CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words <= 15.0)
                 AS g2,
             (CASE WHEN n_words < 2 THEN 0.0
                   ELSE CAST(len(grams) - len(list_distinct(grams))
                        AS DOUBLE) / len(grams) END <= 0.5) AS g3
      FROM gr
    )
    SELECT source AS grp,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_charset,
           CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_length,
           CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_final
    FROM gates GROUP BY source
    """,
)
def text_filter_funnel(spark, sf_dir):
    """Corpus-curation funnel report: cumulative survivor counts per
    source through charset → length → repetition gates, fused into one
    scan + one k-row aggregate (operators/text.py filter_funnel)."""
    return T.filter_funnel(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


@query(
    "etl_domain_mix_weights",
    oracle="""
    WITH counts AS (
      SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    totals AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS k
      FROM counts
    )
    SELECT c.grp, c.n_docs,
           CAST(FLOOR(1000000.0 * t.n_total / (t.k * c.n_docs))
                AS BIGINT) AS weight_ppm,
           least(CAST(FLOOR(1000000.0 * t.n_total / (t.k * c.n_docs))
                      AS BIGINT), 3000000) AS weight_capped_ppm
    FROM counts c CROSS JOIN totals t
    """,
)
def etl_domain_mix_weights(spark, sf_dir):
    """Uniform-target corpus mixture weights in exact ppm with an
    upsampling cap (operators/etl.py domain_mix_weights) — the mixture
    table DoReMi-style domain reweighting consumes."""
    from ..operators.etl import domain_mix_weights

    return domain_mix_weights(
        load(spark, sf_dir, "documents"), "source"
    )


@query(
    "etl_temperature_mixture",
    oracle="""
    WITH counts AS (
      SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ), sc AS (
      SELECT grp, n_docs,
             CAST(FLOOR(sqrt(n_docs)) AS BIGINT) AS s
      FROM counts
    ), t AS (
      SELECT CAST(SUM(s) AS BIGINT) AS s_total FROM sc
    )
    SELECT grp, n_docs,
           CAST((1000000 * s) // s_total AS BIGINT) AS share_ppm,
           least(n_docs,
                 CAST((10000 * s) // s_total AS BIGINT)) AS quota_docs
    FROM sc CROSS JOIN t
    """,
)
def etl_temperature_mixture(spark, sf_dir):
    """Temperature-scaled language mixture (p_g ∝ sqrt(n_g), the XLM-R
    low-resource-upweighting family) with a fixed sampling budget
    allocated by exact-integer shares (operators/etl.py
    temperature_mix_weights) — floor(sqrt(n)) is exact below 2^52 and
    every share/quota is BIGINT DIV, so both engines agree bit-for-bit
    with no double accumulation anywhere."""
    from ..operators.etl import temperature_mix_weights

    return temperature_mix_weights(
        load(spark, sf_dir, "documents"), "lang"
    )


@query(
    "etl_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             CAST(2 * CAST(('0x' || substring(
                      md5(CAST(doc_id AS VARCHAR) || ':ws0'), 1, 8))
                    AS BIGINT) + 1 AS DOUBLE)
             / CAST(n_chars AS DOUBLE) AS race
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight
    FROM keyed ORDER BY race ASC, doc_id ASC LIMIT 64
    """,
)
def etl_weighted_sample(spark, sf_dir):
    """Deterministic quality-weighted corpus subsample — sequential
    Poisson / priority sampling with md5-derived uniforms, inclusion
    probability ≈ min(1, k·w/Σw) (operators/etl.py
    weighted_priority_sample).  The race key (2h+1)/w is one
    correctly-rounded IEEE divide of exact integers, so Spark and
    DuckDB order identically; the plan is map-only + per-partition
    top-k (TakeOrderedAndProject), never a global sort."""
    from ..operators.etl import weighted_priority_sample

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("weight")
    )
    return weighted_priority_sample(docs, "doc_id", "weight", 64)


@query(
    "etl_weighted_sample_stratified",
    oracle="""
    WITH keyed AS (
      SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS weight,
             CAST(2 * CAST(('0x' || substring(
                      md5(CAST(doc_id AS VARCHAR) || ':ws0'), 1, 8))
                    AS BIGINT) + 1 AS DOUBLE)
             / CAST(n_chars AS DOUBLE) AS race
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT lang, doc_id, weight,
             row_number() OVER (PARTITION BY lang
                                ORDER BY race ASC, doc_id ASC) AS rk
      FROM keyed
    )
    SELECT lang, doc_id, weight FROM ranked WHERE rk <= 20
    """,
)
def etl_weighted_sample_stratified(spark, sf_dir):
    """Stratified weighted sampling: an independent sequential-Poisson
    draw of 20 quality-weighted documents inside EVERY language
    (operators/etl.py weighted_priority_sample_per_group) — the
    per-stratum variant of `etl_weighted_sample`, one group-keyed
    window instead of a global top-k, same exact-integer IEEE race."""
    from ..operators.etl import weighted_priority_sample_per_group

    docs = load(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.col("n_chars").cast("long").alias("weight")
    )
    return weighted_priority_sample_per_group(
        docs, "lang", "doc_id", "weight", 20
    )


def _rp_planes_sql() -> str:
    """DuckDB twin of the JL projection: identical integer plane
    literals, identical left-to-right double folds, components floored
    to BIGINTs for the hash comparison."""
    planes = S.random_hyperplanes(dim=64, n_bits=8, seed=7)
    comps = []
    for k, plane in enumerate(planes):
        arr = "[" + ",".join(str(c) for c in plane) + "]"
        dot_k = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(list_zip(embedding::DOUBLE[], {arr}), "
            f"p -> p[1] * p[2])), (a, b) -> a + b)"
        )
        comps.append(f"CAST(FLOOR({dot_k}) AS BIGINT) AS p{k}")
    return ",\n           ".join(comps)


@query(
    "embed_random_projection",
    oracle=f"""
    SELECT vec_id AS id,
           {_rp_planes_sql()}
    FROM embeddings
    """,
)
def embed_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss projection 64 → 8 dims, map-only codegen
    folds over deterministic integer planes (operators/similarity.py
    random_projection).  Components floored to BIGINT for the driver
    hash (raw arrays crash the driver canonicalizer; the operator
    itself returns the double array)."""
    proj = S.random_projection(
        load(spark, sf_dir, "embeddings"), dim=64, out_dim=8, seed=7
    )
    return proj.select(
        "id",
        *[
            F.floor(F.col("proj")[k]).alias(f"p{k}")
            for k in range(8)
        ],
    )


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           CAST(sb.n_sh AS BIGINT) AS n_b,
           CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh)
               AS containment
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.5
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """Containment near-dup pairs — |A∩B| / min(|A|,|B|): the
    asymmetric signal that catches EXCERPTS and doc-in-doc inclusion,
    which Jaccard dilutes (operators/dedup.py containment_pairs)."""
    return D.containment_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.5,
    )


@query(
    "text_top_tfidf_terms",
    oracle="""
    WITH words AS (
      SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words GROUP BY id, term
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM documents),
    scored AS (
      SELECT id, term, tf, (tf * n_docs) / df AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY id ORDER BY tfidf DESC, term
      ) AS rk
      FROM scored
    )
    SELECT id, CAST(rk AS INTEGER) AS rk, term, tf, tfidf
    FROM ranked WHERE rk <= 3
    """,
)
def text_top_tfidf_terms(spark, sf_dir):
    """Keyword extraction: top-3 TF-IDF terms per document — the
    existing tf_idf operator capped per group with a total-order
    tie-break (tfidf values are exact rationals, so the ranking is
    engine-identical).  The per-doc keyword table a retrieval or
    labeling pipeline feeds on."""
    from pyspark.sql import Window

    scored = T.tf_idf(
        load(spark, sf_dir, "documents"), "doc_id", "text", min_tf=1
    )
    w = Window.partitionBy("id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("id", "rk", "term", "tf", "tfidf")
    )


@query(
    "dedup_pair_graph_degrees",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b
      FROM pairs
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE CAST(n_common AS DOUBLE)
            / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ),
    deg AS (
      SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT id_a AS id FROM edges
        UNION ALL SELECT id_b AS id FROM edges
      ) GROUP BY id
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def dedup_pair_graph_degrees(spark, sf_dir):
    """Near-dup graph health check: degree histogram of the exact
    Jaccard pair graph — the audit that catches a degenerate corpus
    (one mega-cluster → a single high-degree spike) BEFORE connected
    components is asked to resolve it.  Composition: jaccard pairs →
    symmetric degree count → histogram; at scale the input is the
    pair list, never the corpus."""
    pairs = D.jaccard_similar_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.5, max_shingle_freq=None,
    ).select("id_a", "id_b")
    sym = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "sim_topk_multiprobe",
    oracle=f"""
    WITH q0 AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             {_hyperplane_bucket_expr("(embedding::DOUBLE[])", _HP_PLANES)}
                 AS bucket
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    q AS (
      SELECT query_id, qv,
             unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                     xor(bucket, 4), xor(bucket, 8), xor(bucket, 16),
                     xor(bucket, 32)]) AS bucket
      FROM q0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
             {_hyperplane_bucket_expr("(embedding::DOUBLE[])", _HP_PLANES)}
                 AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
                 AS cosine
      FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_topk_multiprobe(spark, sf_dir):
    """MULTI-PROBE sign-LSH top-5 (Lv et al. VLDB '07): each query
    probes its own bucket plus every Hamming-1 bucket (flip one of the
    6 sign bits), recovering neighbors that disagree with the query on
    exactly one hyperplane — measured ~10× the recall of single-probe
    on this fixture for (n_bits+1)× more probes, still bucket-bounded
    with the query side broadcast
    (operators/similarity.py hyperplane_topk(multi_probe=True);
    recall floors pinned in tests/test_llm_ops.py)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.hyperplane_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0),
        k=5, dim=64, n_bits=6, seed=42, multi_probe=True,
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
      FROM documents
    ),
    grouped AS (
      SELECT canon, min(doc_id) AS keep_id,
             CAST(count(*) AS BIGINT) AS n_dups
      FROM norm GROUP BY canon
    )
    SELECT keep_id, n_dups FROM grouped
    """,
)
def dedup_exact_normalized(spark, sf_dir):
    """NORMALIZED exact dedup: lowercase → strip non-alphanumerics →
    collapse whitespace → trim, THEN group — catches the
    trivially-edited duplicates (case, punctuation, double spaces) that
    raw-byte hashing misses, which in crawled corpora is most of the
    exact-dup mass.  Same scale shape as dedup_exact: canonical-form
    groupBy, min-id survivor, no pairs; the normalization chain is
    Java/RE2-identical regex so the oracle replays it verbatim."""
    docs = load(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.col("text")), r"[^a-z0-9 ]", " "
            ),
            r" +",
            " ",
        )
    )
    return (
        docs.select(F.col("doc_id"), canon.alias("__canon"))
        .groupBy("__canon")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("keep_id", "n_dups")
    )


@query(
    "multimodal_image_ahash",
    oracle="""
    WITH px AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
             unnest(range(0, 192)) AS i
      FROM documents
    ), v AS (
      SELECT doc_id, i,
             (doc_id * 31
              + (((i // 24) * h) // 8) * 17
              + ((((i % 24) // 3) * w) // 8) * 7
              + (i % 3) * 3) % 256 AS val
      FROM px
    ), gray AS (
      SELECT doc_id, i // 3 AS p, SUM(val) // 3 AS g
      FROM v GROUP BY doc_id, i // 3
    ), tot AS (
      SELECT doc_id, SUM(g) AS total FROM gray GROUP BY doc_id
    )
    SELECT g.doc_id AS media_id,
           CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p < 32
                    THEN (CAST(1 AS BIGINT) << CAST(g.p AS INTEGER))
                    ELSE 0 END) AS BIGINT) AS hash_lo,
           CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p >= 32
                    THEN (CAST(1 AS BIGINT) << CAST(g.p - 32 AS INTEGER))
                    ELSE 0 END) AS BIGINT) AS hash_hi,
           CAST(SUM(CASE WHEN g.g * 64 < t.total THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dark
    FROM gray g JOIN tot t USING (doc_id)
    GROUP BY g.doc_id
    """,
)
def multimodal_image_ahash(spark, sf_dir):
    """Perceptual average-hash over REAL decoded pixels: P6 payloads
    built in codegen, really decoded and resampled to 8×8 by the
    stdlib codec, then integer luminance-vs-mean bits packed into two
    32-bit halves (operators/multimodal.py perceptual_ahash).  The
    oracle rebuilds the exact thumbnail pixels and replays the integer
    hash — a one-bit disagreement anywhere diverges the value hash."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    imgs = docs.select(
        "doc_id",
        F.expr(
            _ppm_payload_sql(
                "4 + doc_id % 13", "4 + doc_id % 11", _RESIZE_VAL
            )
        ).alias("payload"),
    )
    media = M.pack_media(
        imgs, "doc_id", "payload", mime="image/x-portable-pixmap"
    )
    return M.perceptual_ahash(media, size=8)


_AHASH_CTE = """
    px AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
             unnest(range(0, 192)) AS i
      FROM documents
    ), v AS (
      SELECT doc_id, i,
             (doc_id * 31
              + (((i // 24) * h) // 8) * 17
              + ((((i % 24) // 3) * w) // 8) * 7
              + (i % 3) * 3) % 256 AS val
      FROM px
    ), gray AS (
      SELECT doc_id, i // 3 AS p, SUM(val) // 3 AS g
      FROM v GROUP BY doc_id, i // 3
    ), tot AS (
      SELECT doc_id, SUM(g) AS total FROM gray GROUP BY doc_id
    ), ah AS (
      SELECT g.doc_id AS id,
             CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p < 32
                      THEN (CAST(1 AS BIGINT) << CAST(g.p AS INTEGER))
                      ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p >= 32
                      THEN (CAST(1 AS BIGINT)
                            << CAST(g.p - 32 AS INTEGER))
                      ELSE 0 END) AS BIGINT) AS hi
      FROM gray g JOIN tot t USING (doc_id)
      GROUP BY g.doc_id
    )
"""


# Seeded variant for the PAIR-producing image queries: doc_ids with
# doc_id % 50 in {0, 1} share their 50-block's base seed (exactly one
# planted near-dup image pair per block — LINEAR in corpus size), and
# pixel values come from the engine-portable md5 idiom over
# (seed, flat channel index), so two different seeds' aHashes collide
# within hamming 3 with probability ~C(63,<=3)/2^63.  Same round-7
# lesson as the audio fixture: the gradient formula collapses under
# % 256 to f(doc_id mod small), and a derived-SF corpus (key-offset
# doc_ids) degenerates into identical-hash cliques — 35M pairs at sf1,
# quadratic in corpus size.  Dimensions derive from the seed too, so
# planted pairs are bit-identical images.  The per-doc codec queries
# (resize / PNG / JPEG roundtrips) deliberately KEEP the smooth
# gradient pixels — lossy-compression error bounds are part of their
# contract and random noise would not compress within them.
_IMG_SEED = ("(CASE WHEN doc_id % 50 < 2"
             " THEN (doc_id div 50) * 50 ELSE doc_id END)")
_IMG_W = f"(4 + {_IMG_SEED} % 13)"
_IMG_H = f"(4 + {_IMG_SEED} % 11)"
_AHASH_PAIR_VAL = (
    f"cast(conv(substring(md5(concat(cast({_IMG_SEED} as string), ':',"
    " cast(i as string))), 1, 4), 16, 10) as bigint) % 256"
)
# Oracle twin: thumbnail slot i (0..191) maps to source channel
# (src_row * w + src_col) * 3 + (i % 3) with src_row = ((i//24)*h)//8,
# src_col = (((i%24)//3)*w)//8 — the same nearest-neighbor mapping the
# real resample performs.
_AHASH_SEEDED_CTE = """
    px AS (
      SELECT doc_id, sd, 4 + sd % 13 AS w, 4 + sd % 11 AS h,
             unnest(range(0, 192)) AS i
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 50 < 2
                        THEN (doc_id // 50) * 50
                        ELSE doc_id END AS sd
            FROM documents)
    ), v AS (
      SELECT doc_id, i,
             CAST(('0x' || substring(md5(CAST(sd AS VARCHAR) || ':'
               || CAST(((((i // 24) * h) // 8) * w
                        + (((i % 24) // 3) * w) // 8) * 3 + i % 3
                       AS VARCHAR)), 1, 4)) AS BIGINT) % 256 AS val
      FROM px
    ), gray AS (
      SELECT doc_id, i // 3 AS p, SUM(val) // 3 AS g
      FROM v GROUP BY doc_id, i // 3
    ), tot AS (
      SELECT doc_id, SUM(g) AS total FROM gray GROUP BY doc_id
    ), ah AS (
      SELECT g.doc_id AS id,
             CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p < 32
                      THEN (CAST(1 AS BIGINT) << CAST(g.p AS INTEGER))
                      ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p >= 32
                      THEN (CAST(1 AS BIGINT)
                            << CAST(g.p - 32 AS INTEGER))
                      ELSE 0 END) AS BIGINT) AS hi
      FROM gray g JOIN tot t USING (doc_id)
      GROUP BY g.doc_id
    )
"""


@query(
    "multimodal_ahash_pairs",
    oracle=f"""
    WITH {_AHASH_SEEDED_CTE},
    b AS (
      SELECT id, hi, lo,
             unnest([(hi >> 16) & 65535, hi & 65535,
                     (lo >> 16) & 65535, lo & 65535]) AS band_val,
             unnest([0, 1, 2, 3]) AS band_idx
      FROM ah
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, a.hi AS hi_a, a.lo AS lo_a,
                      c.id AS id_b, c.hi AS hi_b, c.lo AS lo_b
      FROM b a JOIN b c
        ON a.band_idx = c.band_idx AND a.band_val = c.band_val
       AND a.id < c.id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b,
             CAST(bit_count(xor(hi_a, hi_b))
                + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming
      FROM cand
    ) WHERE hamming <= 3
    """,
)
def multimodal_ahash_pairs(spark, sf_dir):
    """Image near-dup pairs (hamming ≤ 3 over real-decoded aHash):
    the SimHash pigeonhole banding applied to pictures — candidates
    from an equality self-join on 16-bit band keys, bit_count verify,
    never pixel all-pairs (operators/multimodal.py ahash_near_pairs
    over dedup.hamming_near_pairs)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    imgs = docs.select(
        "doc_id",
        F.expr(
            _ppm_payload_sql(_IMG_W, _IMG_H, _AHASH_PAIR_VAL)
        ).alias("payload"),
    )
    media = M.pack_media(
        imgs, "doc_id", "payload", mime="image/x-portable-pixmap"
    )
    return M.ahash_near_pairs(media, size=8, max_hamming=3)


@query(
    "multimodal_video_frame_ahash",
    oracle="""
    WITH fr AS (
      SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS f
      FROM documents
    ), dims AS (
      SELECT doc_id, f, 3 + (doc_id + f) % 5 AS w,
             2 + (doc_id + f) % 3 AS h
      FROM fr
    ), px AS (
      SELECT doc_id, f, w, h, unnest(range(0, 192)) AS i
      FROM dims
    ), v AS (
      SELECT doc_id, f, i,
             (doc_id * 31 + f * 13
              + (((i // 24) * h) // 8) * 17
              + ((((i % 24) // 3) * w) // 8) * 7
              + (i % 3) * 3) % 256 AS val
      FROM px
    ), gray AS (
      SELECT doc_id, f, i // 3 AS p, SUM(val) // 3 AS g
      FROM v GROUP BY doc_id, f, i // 3
    ), tot AS (
      SELECT doc_id, f, SUM(g) AS total FROM gray GROUP BY doc_id, f
    )
    SELECT g.doc_id AS media_id, CAST(g.f AS INTEGER) AS frame_idx,
           CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p < 32
                    THEN (CAST(1 AS BIGINT) << CAST(g.p AS INTEGER))
                    ELSE 0 END) AS BIGINT) AS hash_lo,
           CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p >= 32
                    THEN (CAST(1 AS BIGINT) << CAST(g.p - 32 AS INTEGER))
                    ELSE 0 END) AS BIGINT) AS hash_hi
    FROM gray g JOIN tot t USING (doc_id, f)
    GROUP BY g.doc_id, g.f
    """,
)
def multimodal_video_frame_ahash(spark, sf_dir):
    """Per-FRAME perceptual hashes for video dedup: the real container
    walk (sample_frames) slices each P6 frame, each frame re-packs as
    its own media row, and the aHash pipeline fingerprints it — the
    (media, frame) hash table that clip-level near-dup (any-frame
    banding match) joins on.  The oracle rebuilds every frame's 8×8
    resample and replays the integer hash."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    frame_expr = _ppm_payload_sql(_FRAME_W, _FRAME_H, _FRAME_VAL)
    container = docs.select(
        "doc_id",
        F.expr(
            "aggregate(transform(sequence(0, doc_id % 4, 1), "
            f"f -> {frame_expr}), cast('' as binary), "
            "(acc, x) -> concat(acc, x))"
        ).alias("payload"),
    )
    media = M.pack_media(
        container, "doc_id", "payload",
        modality="video", mime="video/x-ppm-frames",
    )
    frames = M.sample_frames(media, fake=False)
    fmedia = M.pack_media(
        frames.select(
            (F.col("media_id") * 8 + F.col("frame_idx")).alias("fid"),
            "frame",
        ),
        "fid", "frame", mime="image/x-portable-pixmap",
    )
    ah = M.perceptual_ahash(fmedia, size=8)
    return ah.select(
        (F.col("media_id") / 8).cast("long").alias("media_id"),
        (F.col("media_id") % 8).cast("int").alias("frame_idx"),
        "hash_lo", "hash_hi",
    )


# Seeded frame variant for the video PAIR query (same round-7 design
# as the image/audio pair fixtures): videos in a 50-block share seed
# sd for ids 50m / 50m+1 — identical frame COUNT (1 + sd % 4), dims
# (3+(sd+f)%5 x 2+(sd+f)%3) and md5-valued pixels keyed by
# (sd, frame, flat index) — so planted pairs match on EVERY frame and
# different seeds collide within hamming 3 with ~C(63,<=3)/2^63
# probability.  Blocks where sd % 4 == 0 have single-frame videos and
# are correctly filtered by the >= 2-frame-matches rule (both engines
# agree).  The per-doc codec queries (frame_sample / frame_ahash)
# keep the gradient pixels — their contract is container-walk
# correctness, not pair structure.
_VNP_W = f"(3 + ({_IMG_SEED} + f) % 5)"
_VNP_H = f"(2 + ({_IMG_SEED} + f) % 3)"
_VNP_VAL = (
    f"cast(conv(substring(md5(concat(cast({_IMG_SEED} as string), ':',"
    " cast(f as string), ':', cast(i as string))), 1, 4), 16, 10)"
    " as bigint) % 256"
)


@query(
    "multimodal_video_near_pairs",
    oracle="""
    WITH fr AS (
      SELECT doc_id, sd, unnest(range(0, 1 + sd % 4)) AS f
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 50 < 2
                        THEN (doc_id // 50) * 50
                        ELSE doc_id END AS sd
            FROM documents)
    ), dims AS (
      SELECT doc_id, sd, f, 3 + (sd + f) % 5 AS w,
             2 + (sd + f) % 3 AS h
      FROM fr
    ), px AS (
      SELECT doc_id, sd, f, w, h, unnest(range(0, 192)) AS i
      FROM dims
    ), v AS (
      SELECT doc_id, f, i,
             CAST(('0x' || substring(md5(CAST(sd AS VARCHAR) || ':'
               || CAST(f AS VARCHAR) || ':'
               || CAST(((((i // 24) * h) // 8) * w
                        + (((i % 24) // 3) * w) // 8) * 3 + i % 3
                       AS VARCHAR)), 1, 4)) AS BIGINT) % 256 AS val
      FROM px
    ), gray AS (
      SELECT doc_id, f, i // 3 AS p, SUM(val) // 3 AS g
      FROM v GROUP BY doc_id, f, i // 3
    ), tot AS (
      SELECT doc_id, f, SUM(g) AS total FROM gray GROUP BY doc_id, f
    ), ah AS (
      SELECT g.doc_id * 8 + g.f AS fid,
             CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p < 32
                      THEN (CAST(1 AS BIGINT) << CAST(g.p AS INTEGER))
                      ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN g.g * 64 >= t.total AND g.p >= 32
                      THEN (CAST(1 AS BIGINT)
                            << CAST(g.p - 32 AS INTEGER))
                      ELSE 0 END) AS BIGINT) AS hi
      FROM gray g JOIN tot t USING (doc_id, f)
      GROUP BY g.doc_id, g.f
    ), b AS (
      SELECT fid, hi, lo,
             unnest([(hi >> 16) & 65535, hi & 65535,
                     (lo >> 16) & 65535, lo & 65535]) AS band_val,
             unnest([0, 1, 2, 3]) AS band_idx
      FROM ah
    ), cand AS (
      SELECT DISTINCT a.fid AS fid_a, a.hi AS hi_a, a.lo AS lo_a,
                      c.fid AS fid_b, c.hi AS hi_b, c.lo AS lo_b
      FROM b a JOIN b c
        ON a.band_idx = c.band_idx AND a.band_val = c.band_val
       AND a.fid < c.fid
    ), close_frames AS (
      SELECT fid_a // 8 AS vid_a, fid_b // 8 AS vid_b
      FROM cand
      WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
        AND fid_a // 8 <> fid_b // 8
    )
    SELECT vid_a AS id_a, vid_b AS id_b,
           CAST(count(*) AS BIGINT) AS n_frame_matches
    FROM close_frames
    GROUP BY vid_a, vid_b
    HAVING count(*) >= 2
    """,
)
def multimodal_video_near_pairs(spark, sf_dir):
    """CLIP-level video near-dup: two videos pair when ≥ 2 of their
    frame aHashes land within hamming ≤ 3 — re-encoded or
    trimmed-by-a-frame copies survive, single-frame coincidences don't.
    Pure composition: per-frame hashes → the shared pigeonhole banding
    engine on composite (video, frame) ids → decompose and count
    matching frames per video pair.  Every stage is the text-dedup
    scale shape; nothing touches pixels after the per-frame hash."""
    from ..operators.dedup import hamming_near_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id")
    frame_expr = _ppm_payload_sql(_VNP_W, _VNP_H, _VNP_VAL)
    container = docs.select(
        "doc_id",
        F.expr(
            f"aggregate(transform(sequence(0, {_IMG_SEED} % 4, 1), "
            f"f -> {frame_expr}), cast('' as binary), "
            "(acc, x) -> concat(acc, x))"
        ).alias("payload"),
    )
    media = M.pack_media(
        container, "doc_id", "payload",
        modality="video", mime="video/x-ppm-frames",
    )
    frames = M.sample_frames(media, fake=False)
    fmedia = M.pack_media(
        frames.select(
            (F.col("media_id") * 8 + F.col("frame_idx")).alias("fid"),
            "frame",
        ),
        "fid", "frame", mime="image/x-portable-pixmap",
    )
    fp = M.perceptual_ahash(fmedia, size=8)
    frame_pairs = hamming_near_pairs(
        fp, id_col="media_id", hi_col="hash_hi", lo_col="hash_lo",
        max_hamming=3,
    )
    vids = frame_pairs.select(
        (F.col("id_a") / 8).cast("long").alias("vid_a"),
        (F.col("id_b") / 8).cast("long").alias("vid_b"),
    ).filter(F.col("vid_a") != F.col("vid_b"))
    return (
        vids.groupBy(
            F.col("vid_a").alias("id_a"), F.col("vid_b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_frame_matches"))
        .filter(F.col("n_frame_matches") >= 2)
    )


@query(
    "multimodal_crossmodal_dup_report",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
      FROM documents
    ),
    textd AS (
      SELECT doc_id,
             (count(*) OVER (PARTITION BY canon) > 1) AS is_text_dup
      FROM norm
    ),
    {_AHASH_SEEDED_CTE},
    b AS (
      SELECT id, hi, lo,
             unnest([(hi >> 16) & 65535, hi & 65535,
                     (lo >> 16) & 65535, lo & 65535]) AS band_val,
             unnest([0, 1, 2, 3]) AS band_idx
      FROM ah
    ),
    ipairs AS (
      SELECT DISTINCT a.id AS id_a, c.id AS id_b
      FROM b a JOIN b c
        ON a.band_idx = c.band_idx AND a.band_val = c.band_val
       AND a.id < c.id
      WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 3
    ),
    imgd AS (
      SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM ipairs
        UNION ALL SELECT id_b AS id FROM ipairs
      )
    )
    SELECT t.doc_id, t.is_text_dup,
           (i.id IS NOT NULL) AS is_image_dup,
           CAST((CASE WHEN t.is_text_dup THEN 1 ELSE 0 END)
              + (CASE WHEN i.id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_signals
    FROM textd t LEFT JOIN imgd i ON i.id = t.doc_id
    """,
)
def multimodal_crossmodal_dup_report(spark, sf_dir):
    """Cross-modal duplicate audit: one row per document with its
    text-duplicate flag (normalized exact dedup) AND image-duplicate
    flag (aHash hamming pairs) — the per-item report a curation
    pipeline uses to decide survivors when an item can be duplicated
    in EITHER modality.  Each signal keeps its own scale shape
    (canonical groupBy; banding self-join); the fusion is two narrow
    flag joins on doc_id."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " "),
            r" +",
            " ",
        )
    )
    textd = docs.select(
        "doc_id",
        (
            F.count(F.lit(1)).over(Window.partitionBy(canon)) > 1
        ).alias("is_text_dup"),
    )
    imgs = docs.select("doc_id").select(
        "doc_id",
        F.expr(
            _ppm_payload_sql(_IMG_W, _IMG_H, _AHASH_PAIR_VAL)
        ).alias("payload"),
    )
    media = M.pack_media(
        imgs, "doc_id", "payload", mime="image/x-portable-pixmap"
    )
    pairs = M.ahash_near_pairs(media, size=8, max_hamming=3)
    dup_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("__img", F.lit(True))
    )
    return (
        textd.join(dup_ids, textd.doc_id == dup_ids.id, "left")
        .select(
            "doc_id",
            "is_text_dup",
            F.coalesce(F.col("__img"), F.lit(False)).alias("is_image_dup"),
            (
                F.when(F.col("is_text_dup"), 1).otherwise(0)
                + F.when(F.col("__img").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_dup_signals"),
        )
    )


@query(
    "multimodal_audio_fp_pairs",
    oracle="""
    WITH r AS (SELECT unnest(range(0, 1536)) AS k),
    s AS (
      SELECT doc_id, k,
             (CAST(('0x' || substring(md5(CAST(sd AS VARCHAR)
                 || ':' || CAST(k // 16 AS VARCHAR)), 1, 4)) AS BIGINT)
                % 256 - 128) * 256 AS samp
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 50 < 2
                        THEN (doc_id // 50) * 50
                        ELSE doc_id END AS sd
            FROM documents), r
      WHERE k < 1024 + (doc_id % 3) * 256
    ),
    w AS (
      SELECT doc_id, k // 16 AS widx, SUM(samp * samp) AS energy
      FROM s WHERE k // 16 <= 63 GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, widx, energy,
             lead(energy) OVER (
               PARTITION BY doc_id ORDER BY widx
             ) AS nexte
      FROM w
    ),
    bits AS (
      SELECT doc_id, widx AS p,
             CASE WHEN nexte > energy THEN 1 ELSE 0 END AS bit
      FROM d WHERE widx < 63
    ),
    fp AS (
      SELECT doc_id AS id,
             CAST(SUM(CASE WHEN p < 32
                  THEN bit * (CAST(1 AS BIGINT) << CAST(p AS INTEGER))
                  ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN p >= 32
                  THEN bit * (CAST(1 AS BIGINT) << CAST(p - 32 AS INTEGER))
                  ELSE 0 END) AS BIGINT) AS hi
      FROM bits GROUP BY 1
    ),
    b AS (
      SELECT id, hi, lo,
             unnest([(hi >> 16) & 65535, hi & 65535,
                     (lo >> 16) & 65535, lo & 65535]) AS band_val,
             unnest([0, 1, 2, 3]) AS band_idx
      FROM fp
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, a.hi AS hi_a, a.lo AS lo_a,
                      c.id AS id_b, c.hi AS hi_b, c.lo AS lo_b
      FROM b a JOIN b c
        ON a.band_idx = c.band_idx AND a.band_val = c.band_val
       AND a.id < c.id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b,
             CAST(bit_count(xor(hi_a, hi_b))
                + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming
      FROM cand
    ) WHERE hamming <= 3
    """,
)
def multimodal_audio_fp_pairs(spark, sf_dir):
    """Audio near-dup pairs over REAL decoded PCM: energy-delta
    fingerprints (rising/falling profile — volume-scaling invariant,
    the Shazam-style signature) paired through the same pigeonhole
    banding engine as text SimHash and image aHash
    (operators/multimodal.py audio_delta_fingerprint +
    dedup.hamming_near_pairs).  Completes near-dup coverage across all
    four modalities with one shared blocking code path."""
    from ..operators.dedup import hamming_near_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id")
    tracks = docs.select(
        "doc_id", F.expr(_wav_payload_sql(_WAV_N)).alias("payload")
    )
    media = M.pack_media(
        tracks, "doc_id", "payload", modality="audio", mime="audio/wav"
    )
    fp = M.audio_delta_fingerprint(media, window=16, n_bits=63)
    return hamming_near_pairs(
        fp, id_col="media_id", hi_col="fp_hi", lo_col="fp_lo",
        max_hamming=3,
    )


@query(
    "embed_health_stats",
    oracle="""
    WITH rows_u AS (
      SELECT u.dim, u.x FROM (
        SELECT unnest([{'dim': i - 1,
                        'x': CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                             * 1000000 + 0.5) AS BIGINT)}
                       FOR i IN range(1, len(embedding) + 1)]) AS u
        FROM embeddings
      )
    ),
    agg AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sum_units,
             CAST(SUM(x * x) AS BIGINT) AS sumsq_units
      FROM rows_u GROUP BY dim
    )
    SELECT dim, n, sum_units, sumsq_units,
           sum_units / n AS mean_units,
           sumsq_units / n - (sum_units / n) * (sum_units / n)
               AS var_units2
    FROM agg
    """,
)
def embed_health_stats(spark, sf_dir):
    """Embedding-corpus QC: per-dimension exact integer moments plus
    deterministic mean/variance — catches collapsed dimensions and
    scale blowups before an ANN index is built on them
    (operators/similarity.py embedding_health_stats).  One posexplode,
    one shuffle, d-row output."""
    return S.embedding_health_stats(
        load(spark, sf_dir, "embeddings")
    )


@query(
    "embed_covariance_stats",
    oracle="""
    WITH u AS (
      SELECT vec_id, p.pos,
             CAST(floor(CAST(embedding[p.pos + 1] AS DOUBLE) * 1000
                  + 0.5) AS BIGINT) AS x
      FROM embeddings, (SELECT unnest(range(64)) AS pos) p
    )
    SELECT a.pos AS dim_i, b.pos AS dim_j,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.x) AS BIGINT) AS sum_i,
           CAST(sum(b.x) AS BIGINT) AS sum_j,
           CAST(sum(a.x * b.x) AS BIGINT) AS sum_ij
    FROM u a JOIN u b
      ON a.vec_id = b.vec_id AND a.pos <= b.pos
    GROUP BY 1, 2
    """,
)
def embed_covariance_stats(spark, sf_dir):
    """Cross-dimension second moments of the embedding corpus
    (operators/similarity.py embedding_covariance_stats): the
    covariance/PCA substrate that finds correlated (redundant)
    dimensions — each Arrow batch contributes its d×d partial Gram as
    ONE numpy matmul over quantized int64 units, the shuffle carries
    d(d+1)/2-row partials, and every entry is an exact BIGINT the
    DuckDB twin replays via a per-dim self-join.  2080 output rows at
    any corpus size."""
    return S.embedding_covariance_stats(
        load(spark, sf_dir, "embeddings")
    )


@query(
    "embed_drift_report",
    oracle="""
    WITH rows_u AS (
      SELECT vec_id % 2 AS cohort, u.dim, u.x FROM (
        SELECT vec_id,
               unnest([{'dim': i - 1,
                        'x': CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                             * 1000000 + 0.5) AS BIGINT)}
                       FOR i IN range(1, len(embedding) + 1)]) AS u
        FROM embeddings
      )
    ),
    m AS (
      SELECT cohort, dim, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS ss
      FROM rows_u GROUP BY cohort, dim
    ),
    j AS (
      SELECT r.dim, r.n AS n_ref, c.n AS n_cand,
             r.s / r.n AS mean_r, c.s / c.n AS mean_c,
             r.ss / r.n - (r.s / r.n) * (r.s / r.n) AS var_r,
             c.ss / c.n - (c.s / c.n) * (c.s / c.n) AS var_c
      FROM m r JOIN m c ON r.dim = c.dim
      WHERE r.cohort = 0 AND c.cohort = 1
    ),
    zt AS (
      SELECT dim, n_ref, n_cand,
             mean_c - mean_r AS mean_shift_units,
             CASE
               WHEN sqrt(var_r / n_ref + var_c / n_cand) > 0.0
                 THEN (mean_c - mean_r)
                      / sqrt(var_r / n_ref + var_c / n_cand)
               WHEN mean_c - mean_r > 0.0
                 THEN CAST('infinity' AS DOUBLE)
               WHEN mean_c - mean_r < 0.0
                 THEN CAST('-infinity' AS DOUBLE)
               ELSE 0.0
             END AS z
      FROM j
    )
    SELECT dim, n_ref, n_cand, mean_shift_units, z,
           CAST(abs(z) > 3.0 AS INT) AS drifted
    FROM zt
    """,
)
def embed_drift_report(spark, sf_dir):
    """Embedding distribution-drift gate between two corpus cohorts
    (even vs odd vec_id here; in production, last week's index vs this
    week's batch): per-dimension two-sample z over exact integer
    moments, drift flag at |z| > 3 (operators/similarity.py
    embedding_drift_report).  One posexplode + one (dim, cohort)
    groupBy + a d-row join — dimension-cardinality output at any
    corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    return S.embedding_drift_report(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


@query(
    "text_lexical_diversity",
    oracle="""
    WITH words AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    clean AS (
      SELECT source, w FROM words WHERE w <> ''
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT w) AS BIGINT) AS n_types,
           CAST((1000000 * count(DISTINCT w)) // count(*) AS BIGINT)
               AS ttr_ppm
    FROM clean GROUP BY source
    """,
)
def text_lexical_diversity(spark, sf_dir):
    """Per-source lexical diversity (type-token ratio in exact ppm):
    the corpus-quality metric that exposes template-generated or
    boilerplate-heavy sources (few types over many tokens) next to
    genuinely diverse prose — a standard column in a curation report.

    Exactness: the TTR is BIGINT ``(1e6·types) DIV tokens`` — no
    doubles.  Scale: one explode + one (source, word) distinct-style
    aggregate; Spark plans count(DISTINCT) as a two-phase expand-free
    partial aggregate on (source, word) partials, so the wide shuffle
    carries deduplicated pairs, not raw token instances."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    return words.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_types"),
        F.expr(
            "CAST((1000000 * count(DISTINCT w)) DIV count(1) AS BIGINT)"
        ).alias("ttr_ppm"),
    )


@query(
    "etl_mixture_drift",
    oracle="""
    WITH c AS (
      SELECT doc_id % 2 AS cohort, lang,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY doc_id % 2, lang
    ),
    t AS (
      SELECT cohort, CAST(SUM(n) AS BIGINT) AS n_total
      FROM c GROUP BY cohort
    ),
    shares AS (
      SELECT c.cohort, c.lang, c.n,
             CAST((1000000 * c.n) // t.n_total AS BIGINT) AS share_ppm
      FROM c JOIN t USING (cohort)
    )
    SELECT COALESCE(r.lang, ca.lang) AS lang,
           CAST(COALESCE(r.n, 0) AS BIGINT) AS n_ref,
           CAST(COALESCE(ca.n, 0) AS BIGINT) AS n_cand,
           CAST(COALESCE(r.share_ppm, 0) AS BIGINT) AS share_ref_ppm,
           CAST(COALESCE(ca.share_ppm, 0) AS BIGINT) AS share_cand_ppm,
           CAST(COALESCE(ca.share_ppm, 0) - COALESCE(r.share_ppm, 0)
                AS BIGINT) AS delta_ppm,
           CAST(abs(COALESCE(ca.share_ppm, 0) - COALESCE(r.share_ppm, 0))
                > 20000 AS INT) AS drifted
    FROM (SELECT * FROM shares WHERE cohort = 0) r
    FULL OUTER JOIN (SELECT * FROM shares WHERE cohort = 1) ca
      ON r.lang = ca.lang
    """,
)
def etl_mixture_drift(spark, sf_dir):
    """Categorical mixture-drift report between two corpus cohorts:
    per-category (language) share in exact ppm for each cohort, the
    share delta, and a drift flag at |delta| > 2% — the audit that
    catches a crawl source silently changing its language mix before
    the batch lands in the training blend.  The complement of
    embed_drift_report for categorical columns.

    Exactness: shares are BIGINT ``(1e6·n) DIV n_total`` — no doubles
    anywhere, so both engines agree bit-for-bit.  One-sided categories
    (a language appearing or vanishing between cohorts — the strongest
    possible mixture drift) survive via a FULL OUTER join with zero
    fills, so they surface with maximal |delta| instead of being
    silently dropped.  Scale: one (cohort, category) aggregate off the
    corpus scan, a 2-row total joined back, category-cardinality
    output."""
    docs = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("cohort"), "lang"
    )
    c = docs.groupBy("cohort", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.groupBy("cohort").agg(F.sum("n").alias("n_total"))
    shares = c.join(F.broadcast(t), "cohort").select(
        "cohort",
        "lang",
        "n",
        F.expr("CAST((1000000 * n) DIV n_total AS BIGINT)").alias(
            "share_ppm"
        ),
    )
    ref = shares.filter(F.col("cohort") == 0).select(
        "lang",
        F.col("n").alias("n_ref"),
        F.col("share_ppm").alias("share_ref_ppm"),
    )
    cand = shares.filter(F.col("cohort") == 1).select(
        "lang",
        F.col("n").alias("n_cand"),
        F.col("share_ppm").alias("share_cand_ppm"),
    )
    # FULL OUTER + zero fills: a category present in only one cohort
    # is the strongest mixture drift and must surface with maximal
    # delta, not silently drop out of an inner join.
    joined = ref.join(cand, "lang", "full_outer")
    share_ref = F.coalesce("share_ref_ppm", F.lit(0))
    share_cand = F.coalesce("share_cand_ppm", F.lit(0))
    delta = share_cand - share_ref
    return joined.select(
        "lang",
        F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
        F.coalesce("n_cand", F.lit(0)).cast("bigint").alias("n_cand"),
        share_ref.cast("bigint").alias("share_ref_ppm"),
        share_cand.cast("bigint").alias("share_cand_ppm"),
        delta.cast("bigint").alias("delta_ppm"),
        (F.abs(delta) > F.lit(20000)).cast("int").alias("drifted"),
    )


@query(
    "etl_global_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'),
                  1, 8)) AS BIGINT) AS skey
      FROM documents
    ), sharded AS (
      SELECT doc_id, skey, skey % 8 AS shard,
             row_number() OVER (PARTITION BY skey % 8
                                ORDER BY skey, doc_id) AS pos
      FROM keyed
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(skey) AS BIGINT) AS first_key,
           CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
    FROM sharded GROUP BY shard
    """,
)
def etl_global_shuffle(spark, sf_dir):
    """Deterministic training-corpus shuffle into internally-ordered
    shards (operators/etl.py global_shuffle): order is a pure function
    of (doc_id, seed), reproducible across runs/retries/engines —
    never ``orderBy(rand())``.  One hash exchange + per-shard local
    sort at any scale.  The checkable surface is ORDER-SENSITIVE: a
    per-shard ``sum(position × doc_id)`` checksum over the shard-local
    rank, so the driver hash actually verifies the shuffle order, not
    just membership (the rank window re-uses the shard partitioning —
    no extra shuffle)."""
    from pyspark.sql.window import Window

    from ..operators.etl import global_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    shuffled = global_shuffle(docs, "doc_id", seed=7, n_shards=8)
    w = Window.partitionBy("shard").orderBy("__skey", "doc_id")
    pos = shuffled.withColumn("pos", F.row_number().over(w))
    return pos.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("__skey").alias("first_key"),
        F.sum(F.col("pos") * F.col("doc_id")).alias("order_checksum"),
    )


@query(
    "text_quality_linear_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), scored AS (
      SELECT doc_id,
             SUM(((CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT)
                   % 100003) * 31 + 7) % 1001 - 500) AS score_units
      FROM toks GROUP BY doc_id
    )
    SELECT d.doc_id AS id,
           CAST(COALESCE(s.score_units, 0) AS BIGINT) AS score_units,
           CAST(COALESCE(s.score_units, 0) > 0 AS INT) AS keep
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    """,
)
def text_quality_linear_score(spark, sf_dir):
    """Hashed-feature linear classifier gate over every document
    (operators/text.py linear_quality_score): the fasttext-style
    score-and-threshold pass of a curation pipeline, entirely map-only
    codegen (tokenize → feature-hash → integer weight fold) — scoring
    cost is one corpus scan at 100 TB, no shuffle, no Python.  The
    DuckDB oracle replays the identical hash/weight arithmetic via its
    relational shape (explode + group) — same integers, different
    plan."""
    from ..operators.text import linear_quality_score

    docs = load(spark, sf_dir, "documents")
    return linear_quality_score(docs, "doc_id", "text")


@query(
    "ml_quantile_binning",
    oracle="""
    WITH u AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS units
      FROM orders
    ), q AS (
      SELECT quantile_cont(units, 0.25) AS q1,
             quantile_cont(units, 0.50) AS q2,
             quantile_cont(units, 0.75) AS q3
      FROM u
    )
    SELECT CAST((units > q.q1) AS INT) + CAST((units > q.q2) AS INT)
             + CAST((units > q.q3) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(units) AS BIGINT) AS min_units,
           CAST(max(units) AS BIGINT) AS max_units
    FROM u, q
    GROUP BY 1
    """,
)
def ml_quantile_binning(spark, sf_dir):
    """Equi-depth feature binning: exact quartile boundaries computed
    once, broadcast as a 1-row frame, bins assigned map-side — the
    quantile-bucketing pass feature engineering runs before training.

    Cross-engine exactness is arranged, not assumed: boundaries are
    interpolated over INTEGER price units with quartile fractions that
    are exact in binary (multiples of 0.25), so Spark's ``percentile``
    and DuckDB's ``quantile_cont`` produce bit-identical doubles and
    the ``>`` bin edges cannot flip on a last-ulp difference.  At scale
    the exact percentile is one sort-based aggregate of the units
    column; swap ``approx_percentile`` in when the contract allows
    sketch error — the binning plan (broadcast fences + codegen CASE)
    is unchanged."""
    u = load(spark, sf_dir, "orders").select(
        F.expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)").alias(
            "units"
        )
    )
    q = u.agg(
        F.expr("percentile(units, 0.25d)").alias("q1"),
        F.expr("percentile(units, 0.50d)").alias("q2"),
        F.expr("percentile(units, 0.75d)").alias("q3"),
    )
    bin_col = (
        (F.col("units") > F.col("q1")).cast("int")
        + (F.col("units") > F.col("q2")).cast("int")
        + (F.col("units") > F.col("q3")).cast("int")
    )
    return (
        u.join(F.broadcast(q))
        .select(bin_col.alias("bin"), "units")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("units").alias("min_units"),
            F.max("units").alias("max_units"),
        )
    )


@query(
    "etl_group_split",
    oracle="""
    WITH b AS (
      SELECT source,
             CAST(('0x' || substring(md5(source), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM b GROUP BY 1
    """,
)
def etl_group_split(spark, sf_dir):
    """Leakage-free GROUP-level train/val/test split: the split key is
    the document's ``source`` (domain), not the document — every doc
    from one domain lands in the same split, so near-duplicates and
    templated pages within a domain can never straddle train/test (the
    contamination mode a doc-level split invites).  Same md5-bucket
    assignment as ``etl_train_split`` (operators/etl.py hash_split on
    the group column): map-only, engine-reproducible, and new docs of a
    known domain always join their domain's split."""
    from ..operators.etl import hash_split

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    split = hash_split(docs, "source")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "ml_negative_pairs",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':neg'),
                  1, 8)) AS BIGINT) AS skey
      FROM documents
    ), ordered AS (
      SELECT doc_id, skey, skey % 16 AS bucket,
             lead(doc_id, 1) OVER w AS neg_1,
             lead(doc_id, 2) OVER w AS neg_2
      FROM keyed
      WINDOW w AS (PARTITION BY skey % 16 ORDER BY skey, doc_id)
    )
    SELECT doc_id, neg_1, neg_2
    FROM ordered
    WHERE neg_1 IS NOT NULL
    """,
)
def ml_negative_pairs(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: each
    document is paired with the next k=2 documents in a pseudo-random
    hash order WITHIN its hash bucket — negatives are arbitrary
    (hash-ordered) corpus members, reproducible across runs, and the
    plan is one bucket shuffle + a per-bucket window: no cartesian, no
    rand(), no per-row sampling pass.  At 100 TB each bucket holds
    ~corpus/16 docs spread across tasks; raise the bucket count with
    corpus size to keep window partitions bounded (the pairing only
    needs ANY deterministic order, so bucket granularity is free to
    scale)."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id")
    from ..operators._util import md5_key_expr

    keyed = docs.withColumn(
        "skey", F.expr(md5_key_expr("doc_id", salt=":neg"))
    ).withColumn("bucket", F.col("skey") % 16)
    w = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    return (
        keyed.select(
            "doc_id",
            F.lead("doc_id", 1).over(w).alias("neg_1"),
            F.lead("doc_id", 2).over(w).alias("neg_2"),
        )
        .filter(F.col("neg_1").isNotNull())
    )


@query(
    "ml_feature_standardize",
    oracle="""
    WITH u AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS units
      FROM orders
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(units) AS BIGINT) AS s1,
             CAST(sum(units * units) AS DOUBLE) AS s2d
      FROM u
    ), z AS (
      SELECT (units / 100.0 - (s1 / 100.0) / n)
             / sqrt((s2d / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n)
                    / (n - 1)) AS zval
      FROM u, m
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN abs(zval) > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           max(zval) AS max_z,
           min(zval) AS min_z
    FROM z
    """,
)
def ml_feature_standardize(spark, sf_dir):
    """Z-score feature standardization: exact sufficient statistics
    (n, Σx, Σx² — the square in exact DECIMAL(38,0), LONG overflows at
    ~15 K high-priced rows) aggregated once, broadcast as a 1-row
    frame, and the normalization applied map-side — the two-pass
    standardize every feature pipeline runs, with the second "pass"
    costing a re-scan, never a shuffle.  The z formula is written
    byte-identically on both engines over identical integer inputs, so
    even the DOUBLE outputs hash-match; outlier counting (|z| > 2) and
    extrema give the driver a compact checkable surface."""
    u = load(spark, sf_dir, "orders").select(
        F.expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)").alias(
            "units"
        )
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("units").alias("s1"),
        # units² overflows LONG once n·(maxprice·100)² > 2⁶³ (already at
        # 15 K orders); the second moment sums in DECIMAL(38,0) — exact —
        # and converts to DOUBLE once (both engines round the same exact
        # integer to the same nearest double).
        F.sum((F.col("units") * F.col("units")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2d"),
    )
    mean = (F.col("s1") / F.lit(100.0)) / F.col("n")
    var = (
        F.col("s2d") / F.lit(10000.0)
        - (F.col("s1") / F.lit(100.0))
        * (F.col("s1") / F.lit(100.0))
        / F.col("n")
    ) / (F.col("n") - F.lit(1))
    z = (F.col("units") / F.lit(100.0) - mean) / F.sqrt(var)
    return (
        u.join(F.broadcast(m))
        .select(z.alias("zval"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.abs(F.col("zval")) > 2.0).cast("long")).alias(
                "n_outliers"
            ),
            F.max("zval").alias("max_z"),
            F.min("zval").alias("min_z"),
        )
    )


# Lexicons drawn from the synthetic corpus vocabulary so the classifier
# actually discriminates on the fixtures (a real deployment broadcasts
# its own dictionary; the plan is identical).
_SENT_POS = ("fast", "big", "value", "merge")
_SENT_NEG = ("slow", "small", "dup", "filter")


@query(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ), scored AS (
      SELECT doc_id,
             SUM(CASE WHEN w IN {_SENT_POS!r} THEN 1 ELSE 0 END) AS pos,
             SUM(CASE WHEN w IN {_SENT_NEG!r} THEN 1 ELSE 0 END) AS neg
      FROM toks GROUP BY doc_id
    )
    SELECT CASE WHEN pos > neg THEN 'positive'
                WHEN neg > pos THEN 'negative'
                ELSE 'neutral' END AS sentiment,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pos) AS BIGINT) AS total_pos,
           CAST(sum(neg) AS BIGINT) AS total_neg
    FROM scored GROUP BY 1
    """,
)
def text_sentiment_lexicon(spark, sf_dir):
    """Lexicon-based sentiment classification at corpus scale (the
    classic distributed-Spark text-mining workload): per-document
    positive/negative lexicon hit counts via a JVM ``filter`` fold over
    the token array — map-only, no explode, no Python — then a 3-class
    rollup.  The lexicons here are literal word lists (a real deployment
    broadcasts its sentiment dictionary; the fold is unchanged).  Doc
    counts per class plus total hit masses give the driver an exact
    integer surface."""
    docs = load(spark, sf_dir, "documents")
    pos_q = ",".join(f"'{w}'" for w in _SENT_POS)
    neg_q = ",".join(f"'{w}'" for w in _SENT_NEG)
    scored = docs.select(
        F.expr(
            f"size(filter(split(lower(text), ' '), w -> w IN ({pos_q})))"
        ).alias("pos"),
        F.expr(
            f"size(filter(split(lower(text), ' '), w -> w IN ({neg_q})))"
        ).alias("neg"),
    )
    sentiment = (
        F.when(F.col("pos") > F.col("neg"), F.lit("positive"))
        .when(F.col("neg") > F.col("pos"), F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )
    return scored.groupBy(sentiment.alias("sentiment")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pos").alias("total_pos"),
        F.sum("neg").alias("total_neg"),
    )


def _bpe_train_oracle(n_merges: int = 8, max_words: int = 2000) -> str:
    """DuckDB twin of operators/text.bpe_train: the SAME iterative
    rounds, unrolled as MATERIALIZED CTEs (without MATERIALIZED each
    round is referenced twice and DuckDB's default CTE inlining makes
    the plan grow ~2^n)."""
    parts = [f"""w0 AS MATERIALIZED (
      SELECT regexp_split_to_array(w, '') AS syms, freq FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          SELECT UNNEST(string_split_regex(
              regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
              ' +')) AS w
          FROM documents)
        WHERE length(w) BETWEEN 2 AND 12
        GROUP BY 1 ORDER BY freq DESC, w LIMIT {max_words})
    )"""]
    for k in range(n_merges):
        parts.append(f"""b{k} AS MATERIALIZED (
      SELECT z[1] AS lhs, z[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS c
      FROM (SELECT UNNEST(list_zip(syms, syms[2:])) AS z, freq
            FROM w{k} WHERE len(syms) >= 2)
      WHERE z[2] IS NOT NULL
      GROUP BY 1, 2 ORDER BY c DESC, lhs, rhs LIMIT 1
    )""")
        parts.append(f"""w{k + 1} AS MATERIALIZED (
      SELECT string_split_regex(trim(replace(
          '|' || array_to_string(syms, '||') || '|',
          (SELECT '|' || lhs || '||' || rhs || '|' FROM b{k}),
          (SELECT '|' || lhs || rhs || '|' FROM b{k})), '|'),
          '\\|\\|') AS syms, freq
      FROM w{k}
    )""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, lhs, rhs, lhs || rhs AS merged,"
        f" c AS pair_count FROM b{k}"
        for k in range(n_merges)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


@query("text_bpe_train", oracle=_bpe_train_oracle())
def text_bpe_train(spark, sf_dir):
    """Full iterative BPE TRAINING over the documents corpus
    (operators/text.bpe_train): 8 learned merges, each round = one
    distributed pair-count aggregate + a 1-row argmax to the driver +
    a map-only greedy merge via the piped-string replace trick.  The
    oracle replays the identical rounds as unrolled MATERIALIZED CTEs,
    so ranks, pairs AND exact pair counts hash-match — an iterative
    algorithm with a full value oracle (the PageRank discipline
    applied to tokenizer training).  Completes the tokenizer substrate
    story: text_bpe_pairs is one round of statistics, text_bpe_apply
    is inference with a given table, this TRAINS the table."""
    from ..operators.text import bpe_train

    return bpe_train(
        load(spark, sf_dir, "documents"), "text", n_merges=8
    )


@query(
    "etl_curation_pipeline",
    oracle="""
    WITH gated AS MATERIALIZED (
      SELECT doc_id, source,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
      FROM documents
      WHERE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                 AS DOUBLE) / greatest(length(text), 1) >= 0.6
    ),
    deduped AS MATERIALIZED (
      SELECT min(doc_id) AS doc_id, canon,
             min(source ORDER BY doc_id) AS source
      FROM gated GROUP BY canon
    ),
    eval_set AS MATERIALIZED (
      SELECT DISTINCT trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
      FROM documents WHERE doc_id % 97 = 0
    ),
    clean AS MATERIALIZED (
      SELECT d.doc_id, d.source FROM deduped d
      WHERE d.doc_id % 97 <> 0
        AND NOT EXISTS (SELECT 1 FROM eval_set e
                        WHERE e.canon = d.canon)
    ),
    capped AS MATERIALIZED (
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM clean
      ) WHERE rn <= 50
    ),
    split AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS s
      FROM (SELECT doc_id,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                        1, 8)) AS BIGINT) % 100 AS b
            FROM capped)
    )
    SELECT stage, n_docs FROM (
      SELECT '0_ingest' AS stage,
             CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
      UNION ALL SELECT '1_charset_gate',
             CAST((SELECT count(*) FROM gated) AS BIGINT)
      UNION ALL SELECT '2_exact_dedup',
             CAST((SELECT count(*) FROM deduped) AS BIGINT)
      UNION ALL SELECT '3_decontaminated',
             CAST((SELECT count(*) FROM clean) AS BIGINT)
      UNION ALL SELECT '4_domain_capped',
             CAST((SELECT count(*) FROM capped) AS BIGINT)
      UNION ALL SELECT '5_train',
             CAST((SELECT count(*) FROM split WHERE s = 'train')
                  AS BIGINT)
      UNION ALL SELECT '5_val',
             CAST((SELECT count(*) FROM split WHERE s = 'val') AS BIGINT)
      UNION ALL SELECT '5_test',
             CAST((SELECT count(*) FROM split WHERE s = 'test') AS BIGINT)
    )
    """,
)
def etl_curation_pipeline(spark, sf_dir):
    """END-TO-END pretraining-corpus curation as ONE driver-checkable
    query: ingest → charset gate → normalized exact dedup (min-id
    survivor) → benchmark decontamination (canonical-form match
    against the held-out eval set, eval docs themselves excluded) →
    per-domain cap (md5-rank ≤ 50 via the salted two-phase top-k) →
    deterministic 80/10/10 split.  The returned funnel (docs surviving
    each stage, split sizes) is the report a data-curation run ships.

    Scale posture: every stage is lazily local-checkpointed, so each
    materializes exactly once no matter how many downstream count
    branches read it — the registry-query analogue of a real pipeline
    persisting intermediate corpora; the only driver traffic is the
    8-row funnel.  Stage semantics are bit-identical to their
    standalone contract queries (text_charset_filter,
    dedup_exact_normalized, etl_cap_per_domain, etl_train_split), so
    the composition inherits their individually-verified oracles."""
    from ..operators.etl import cap_per_group, hash_split

    docs = load(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " "),
            r" +",
            " ",
        )
    )
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    alpha_ratio = n_alpha.cast("double") / F.greatest(
        F.length("text"), F.lit(1)
    )

    gated = (
        docs.filter(alpha_ratio >= 0.6)
        .select("doc_id", "source", canon.alias("canon"))
        .localCheckpoint(eager=False)
    )
    deduped = (
        gated.groupBy("canon")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("source", "doc_id").alias("source"),
        )
        .localCheckpoint(eager=False)
    )
    eval_set = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(canon.alias("canon"))
        .distinct()
    )
    clean = (
        deduped.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_set), "canon", "left_anti")
        .select("doc_id", "source")
        .localCheckpoint(eager=False)
    )
    capped = cap_per_group(clean, "source", "doc_id", 50).localCheckpoint(
        eager=False
    )
    split = hash_split(capped.select("doc_id"), "doc_id")

    def n_of(df, stage):
        return df.agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    out = n_of(docs, "0_ingest")
    for frame, stage in (
        (gated, "1_charset_gate"),
        (deduped, "2_exact_dedup"),
        (clean, "3_decontaminated"),
        (capped, "4_domain_capped"),
        (split.filter(F.col("split") == "train"), "5_train"),
        (split.filter(F.col("split") == "val"), "5_val"),
        (split.filter(F.col("split") == "test"), "5_test"),
    ):
        out = out.unionByName(n_of(frame, stage))
    return out


# ---------------------------------------------------------------------- #
# corpus-level overlap + tokenizer fertility (round-4 additions)         #
# ---------------------------------------------------------------------- #

@query(
    "dedup_corpus_overlap",
    oracle="""
    WITH words AS (
      SELECT source, string_split(text, ' ') AS ws FROM documents
    ),
    idx AS (
      SELECT source, ws,
             unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
      FROM words
    ),
    sk0 AS (
      SELECT DISTINCT source AS g,
             CAST(('0x' || substring(
                 md5(array_to_string(ws[i:i+2], ' ')), 1, 8)) AS BIGINT)
                 AS h
      FROM idx
    ),
    ranked AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
      FROM sk0
    ),
    sk AS (SELECT g, h FROM ranked WHERE r <= 128),
    gs AS (SELECT DISTINCT g FROM sk),
    u0 AS (
      SELECT a.g AS sa, b.g AS sb, a.h, 1 AS ia, 0 AS ib
      FROM sk a, gs b WHERE a.g < b.g
      UNION ALL
      SELECT a.g AS sa, b.g AS sb, b.h, 0, 1
      FROM gs a, sk b WHERE a.g < b.g
    ),
    u AS (
      SELECT sa, sb, h, max(ia) AS ia, max(ib) AS ib
      FROM u0 GROUP BY 1, 2, 3
    ),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
      FROM u
    ),
    top AS (SELECT * FROM r2 WHERE r <= 128)
    SELECT sa, sb, CAST(count(*) AS BIGINT) AS k_eff,
           CAST(SUM(ia * ib) AS BIGINT) AS n_shared,
           CAST((1000000 * SUM(ia * ib)) // count(*) AS BIGINT)
               AS jaccard_est_ppm
    FROM top GROUP BY 1, 2
    """,
)
def dedup_corpus_overlap(spark, sf_dir):
    """Pairwise source-overlap estimation (operators/dedup.py
    corpus_overlap_sketch): bottom-128 MinHash sketch of each source's
    shingle SET, merged per source pair — the k-minimum-values Jaccard
    estimator.  Each source reduces to 128 BIGINTs BEFORE any pairwise
    work, so the pair stage is G²·k sketch rows (megabytes at thousands
    of sources), never corpus rows — the scale answer to "how much does
    dump N+1 overlap dump N".  Deterministic md5 hashing, exact-ppm
    floor division: hash-checked."""
    return D.corpus_overlap_sketch(
        load(spark, sf_dir, "documents"), "source", "text", n=3, k=128
    )


@query(
    "text_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '{T.TOKEN_REGEX}'))
                  AS BIGINT) AS lex_tokens,
             CAST(strlen(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens,
           CAST(SUM(lex_tokens) AS BIGINT) AS lex_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST((1000000 * SUM(lex_tokens)) // SUM(ws_tokens) AS BIGINT)
               AS fertility_ppm,
           CAST((1000000 * SUM(n_chars)) // SUM(lex_tokens) AS BIGINT)
               AS chars_per_token_ppm
    FROM per_doc GROUP BY lang
    """,
)
def text_fertility(spark, sf_dir):
    """Tokenizer fertility per language: lexer tokens per whitespace
    word and chars per token (exact ppm) — the per-language cost model
    every multilingual tokenizer evaluation starts from (a language
    whose fertility is 2× pays 2× the sequence length for the same
    text).  Map-side token counting (the text_token_counts machinery)
    into one tiny hash aggregate; corpus-sized input, |langs| output."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(T.TOKEN_REGEX), 0))
        .cast("bigint")
        .alias("lex_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.sum("lex_tokens").cast("bigint").alias("lex_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.expr("(1000000 * sum(lex_tokens)) div sum(ws_tokens)")
        .cast("bigint")
        .alias("fertility_ppm"),
        F.expr("(1000000 * sum(n_chars)) div sum(lex_tokens)")
        .cast("bigint")
        .alias("chars_per_token_ppm"),
    )


# ---------------------------------------------------------------------- #
# classifier-evaluation metrics, EXACT (round-4 additions)               #
# ---------------------------------------------------------------------- #

# Shared fixture contract: predictions come from the linear quality
# gate (text_quality_linear_score: integer score, keep = score > 0);
# ground truth is lang = 'en'.  Both are deterministic engine-side
# integers, so every metric below is exact rational arithmetic.

_SCORED_DOCS_SQL = """
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    sc AS (
      SELECT doc_id,
             SUM(((CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT)
                   % 100003) * 31 + 7) % 1001 - 500) AS s
      FROM toks GROUP BY doc_id
    ),
    scored AS (
      SELECT d.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS s,
             CAST(d.lang = 'en' AS INT) AS y
      FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
    )
"""


def _scored_docs(spark, sf_dir):
    from ..operators.text import linear_quality_score

    docs = load(spark, sf_dir, "documents")
    return linear_quality_score(docs, "doc_id", "text").join(
        docs.select("doc_id", (F.col("lang") == "en").cast("int").alias("y")),
        F.col("id") == F.col("doc_id"),
    ).select(F.col("score_units").alias("s"), "y", "keep")


@query(
    "ml_auc_exact",
    oracle=f"""
    WITH {_SCORED_DOCS_SQL},
    per_score AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n1
      FROM scored GROUP BY s
    ),
    cum AS (
      SELECT s, n, n1,
             CAST(COALESCE(SUM(n) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
      FROM per_score
    ),
    tot AS (
      SELECT CAST(SUM(n1 * (2 * cum_before + n + 1)) AS BIGINT)
                 AS two_r1,
             CAST(SUM(n1) AS BIGINT) AS n_pos,
             CAST(SUM(n - n1) AS BIGINT) AS n_neg
      FROM cum
    )
    SELECT n_pos, n_neg,
           CAST(two_r1 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
           CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
           CAST((1000000 * (two_r1 - n_pos * (n_pos + 1)))
                // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
    FROM tot
    """,
)
def ml_auc_exact(spark, sf_dir):
    """EXACT distributed ROC-AUC via the Mann–Whitney rank-sum identity
    — the standard classifier-eval metric computed without floats or
    sampling.  Tie-correct midranks come from per-SCORE-VALUE group
    counts (2·midrank = 2·cum_before + n + 1), so the only window runs
    over DISTINCT scores, not rows — and even that pass is TWO-PHASE
    (operators/prefix.prefix_sums: score-range buckets + bucket-offset
    metadata cumsum), so no data-scale rows ever cross one partition.
    AUC = (ΣR₁·2 − n₊(n₊+1)) / (2·n₊·n₋) in pure BIGINTs;
    emitted as exact num/den plus ppm floor division."""
    from ..operators.prefix import prefix_sums

    scored = _scored_docs(spark, sf_dir)
    # score-domain-sized aggregate, referenced twice inside
    # prefix_sums: checkpoint so the document scan + scoring regex run
    # ONCE (column pruning otherwise specializes the two subplans
    # apart and defeats ReusedExchange — measured 4 scans, 0 reuses)
    per_score = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n1"),
    ).localCheckpoint(eager=False)
    cum = prefix_sums(
        per_score,
        order=["s"],
        cols={"n": "cum_before"},
        bucket=F.expr("s div 1000"),
        end="preceding",
    ).withColumn("cum_before", F.col("cum_before").cast("bigint"))
    tot = cum.agg(
        F.sum(
            F.col("n1") * (2 * F.col("cum_before") + F.col("n") + 1)
        ).cast("bigint").alias("two_r1"),
        F.sum("n1").cast("bigint").alias("n_pos"),
        F.sum(F.col("n") - F.col("n1")).cast("bigint").alias("n_neg"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        (F.col("two_r1") - F.col("n_pos") * (F.col("n_pos") + 1))
        .cast("bigint")
        .alias("auc_num"),
        (2 * F.col("n_pos") * F.col("n_neg"))
        .cast("bigint")
        .alias("auc_den"),
        F.expr(
            "(1000000 * (two_r1 - n_pos * (n_pos + 1)))"
            " div (2 * n_pos * n_neg)"
        ).cast("bigint").alias("auc_ppm"),
    )


@query(
    "ml_confusion_matrix",
    oracle=f"""
    WITH {_SCORED_DOCS_SQL},
    cm AS (
      SELECT CAST(SUM(CASE WHEN s > 0 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s > 0 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s <= 0 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN s <= 0 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           CAST((1000000 * tp) // NULLIF(tp + fp, 0) AS BIGINT)
               AS precision_ppm,
           CAST((1000000 * tp) // NULLIF(tp + fn, 0) AS BIGINT)
               AS recall_ppm,
           CAST((2000000 * tp) // NULLIF(2 * tp + fp + fn, 0) AS BIGINT)
               AS f1_ppm,
           CAST((1000000 * (tp + tn)) // (tp + fp + fn + tn) AS BIGINT)
               AS accuracy_ppm
    FROM cm
    """,
)
def ml_confusion_matrix(spark, sf_dir):
    """Confusion matrix + precision/recall/F1/accuracy for the linear
    quality gate against the lang='en' truth — one conditional-sum scan
    over the scored corpus (four CASE partials in a single hash
    aggregate, no joins), metrics in exact-ppm floor division with
    NULLIF zero-division guards mirrored on both engines.  The
    classifier-eval readout every curation-gate change is judged by."""
    scored = _scored_docs(spark, sf_dir)
    pred = (F.col("s") > 0).cast("int")
    cm = scored.agg(
        F.sum(((pred == 1) & (F.col("y") == 1)).cast("int"))
        .cast("bigint").alias("tp"),
        F.sum(((pred == 1) & (F.col("y") == 0)).cast("int"))
        .cast("bigint").alias("fp"),
        F.sum(((pred == 0) & (F.col("y") == 1)).cast("int"))
        .cast("bigint").alias("fn"),
        F.sum(((pred == 0) & (F.col("y") == 0)).cast("int"))
        .cast("bigint").alias("tn"),
    )
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.expr("(1000000 * tp) div nullif(tp + fp, 0)")
        .cast("bigint").alias("precision_ppm"),
        F.expr("(1000000 * tp) div nullif(tp + fn, 0)")
        .cast("bigint").alias("recall_ppm"),
        F.expr("(2000000 * tp) div nullif(2 * tp + fp + fn, 0)")
        .cast("bigint").alias("f1_ppm"),
        F.expr("(1000000 * (tp + tn)) div (tp + fp + fn + tn)")
        .cast("bigint").alias("accuracy_ppm"),
    )


@query(
    "dedup_cdc_chunks",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    b AS (
      SELECT doc_id, ws,
             list_filter(generate_series(1, len(ws)),
               i -> (CAST(('0x' || substring(md5(ws[i]), 1, 8)) AS BIGINT)
                     % 4) = 0) AS bpos
      FROM w
    ),
    s AS (
      SELECT doc_id, ws,
             list_prepend(0, bpos) AS starts,
             list_append(bpos, len(ws)) AS ends
      FROM b
    ),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(ws[starts[j]+1:ends[j]], ' '))
                 AS chunk_hash
      FROM s, unnest(generate_series(1, len(starts))) AS t(j)
      WHERE array_to_string(ws[starts[j]+1:ends[j]], ' ') != ''
    ),
    cnt AS (
      SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_occ
      FROM ch GROUP BY 1
    )
    SELECT ch.doc_id AS id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN cnt.n_occ > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           CAST((1000000 * SUM(CASE WHEN cnt.n_occ > 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS dup_ratio_ppm
    FROM ch JOIN cnt USING (chunk_hash)
    GROUP BY 1
    """,
)
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking duplication report (operators/dedup.py
    cdc_chunk_dup_report): word-level CDC boundaries (hash ≡ 0 mod 4 —
    the rsync/FastCDC rule), md5 chunk identity, corpus-wide occurrence
    counts joined back per document.  The passage-level tier between
    whole-doc exact dedup and substring-span dedup: boilerplate-robust,
    one map-side chunking projection + one groupBy + one join."""
    return D.cdc_chunk_dup_report(
        load(spark, sf_dir, "documents"), "doc_id", "text", modulus=4
    )


@query(
    "sim_topk_pq",
    oracle=f"""
    WITH c0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    u0 AS (
      SELECT vec_id, v,
             list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
                 AS u
      FROM c0
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, u AS cu
      FROM (SELECT * FROM u0 ORDER BY vec_id LIMIT 16)
    ),
    subs AS (SELECT unnest(generate_series(0, 3)) AS s),
    enc0 AS (
      SELECT a.vec_id, subs.s, cb.j,
             list_sum(list_transform(generate_series(1, 16),
               i -> (a.u[subs.s * 16 + i] - cb.cu[subs.s * 16 + i])
                  * (a.u[subs.s * 16 + i] - cb.cu[subs.s * 16 + i])))
                 AS d2
      FROM u0 a, subs, cb
    ),
    enc AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT vec_id, s, j, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY d2, j) AS r
        FROM enc0
      ) WHERE r = 1
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv, u AS qu
      FROM u0 WHERE vec_id % 50 = 0
    ),
    lut AS (
      SELECT q.query_id, subs.s, cb.j,
             list_sum(list_transform(generate_series(1, 16),
               i -> (q.qu[subs.s * 16 + i] - cb.cu[subs.s * 16 + i])
                  * (q.qu[subs.s * 16 + i] - cb.cu[subs.s * 16 + i])))
                 AS d2
      FROM q, subs, cb
    ),
    adc AS (
      SELECT l.query_id, e.vec_id AS neighbor_id,
             CAST(SUM(l.d2) AS BIGINT) AS adc
      FROM enc e JOIN lut l ON l.s = e.s AND l.j = e.code
      WHERE l.query_id <> e.vec_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY adc, neighbor_id) AS r
        FROM adc
      ) WHERE r <= 20
    ),
    rr AS (
      SELECT sh.query_id, sh.neighbor_id, q.qv, c.v AS cv
      FROM short sh
      JOIN q ON q.query_id = sh.query_id
      JOIN c0 c ON c.vec_id = sh.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, cosine FROM (
      SELECT query_id, neighbor_id,
             {_DOT} / ({_NORM.format(v='qv')} * {_NORM.format(v='cv')})
                 AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_DOT} / ({_NORM.format(v='qv')}
                        * {_NORM.format(v='cv')}) DESC, neighbor_id)
                 AS rank
      FROM rr
    ) WHERE rank <= 5
    """,
)
def sim_topk_pq(spark, sf_dir):
    """Product-quantization ANN with asymmetric-distance scoring
    (operators/similarity.py pq_topk): 4 subspaces × 16 codes = 4 BYTES
    per 64-dim vector (64× compression), per-query integer lookup
    tables, exact-cosine re-rank of the shortlist.  The sixth and most
    compressed tier of the similarity ladder (brute → sign-LSH →
    multi-probe → IVF → SQ8 → PQ); all PQ arithmetic is exact BIGINT so
    codes/shortlists/ranks are bit-deterministic and the DuckDB twin
    hash-matches."""
    emb = load(spark, sf_dir, "embeddings")
    return S.pq_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0),
        k=5, shortlist=20, m=4, n_codes=16, scale=1000,
    )


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH {_SCORED_DOCS_SQL},
    binned AS (
      SELECT CAST(ntile(10) OVER (ORDER BY s, doc_id) AS BIGINT)
                 AS bin, s, y
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(s) AS BIGINT) AS score_lo,
           CAST(max(s) AS BIGINT) AS score_hi,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST((1000000 * SUM(y)) // count(*) AS BIGINT)
               AS pos_rate_ppm
    FROM binned GROUP BY bin
    """,
)
def ml_calibration_bins(spark, sf_dir):
    """Reliability / calibration readout for the linear quality gate:
    documents ranked by score into deciles (ntile over a total order —
    ties broken by doc id), per-bin positive rate in exact ppm.  With
    AUC (ranking power) and the confusion matrix (threshold behavior)
    this completes the standard classifier-eval triptych; a monotone
    pos_rate over bins is what "the score means something" looks like.

    The decile assignment is TWO-PHASE, never a global ntile window:
    each row's exact global rank = (two-phase cumulative count of
    smaller scores via operators/prefix.prefix_sums) + (score-
    partitioned row_number over doc_id), and SQL ntile's tile rule —
    the first n mod 10 tiles take one extra row — is re-derived from
    that rank in closed form, so the bins are bit-identical to
    ntile(10) OVER (ORDER BY s, doc_id) with no data-scale rows
    through one partition."""
    from ..operators.prefix import prefix_rank

    # _scored_docs drops the doc id; rebuild with it retained for the
    # deterministic ntile tie-break
    from ..operators.text import linear_quality_score

    docs = load(spark, sf_dir, "documents")
    sc = linear_quality_score(docs, "doc_id", "text").join(
        docs.select(
            "doc_id", (F.col("lang") == "en").cast("int").alias("y")
        ),
        F.col("id") == F.col("doc_id"),
    ).select(F.col("doc_id"), F.col("score_units").alias("s"), "y")
    # narrow per-doc projection referenced three times (total count +
    # prefix_rank's count-and-join-back): checkpoint so the scoring
    # regex runs once — materializing (doc_id, s, y) beats three scans
    sc = sc.localCheckpoint(eager=False)
    tot = sc.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = prefix_rank(
        sc, key="s", tiebreak="doc_id",
        bucket=F.expr("s div 1000"),
    ).select("s", "y", "rk")
    # SQL ntile(10): k = n div 10, r = n mod 10; tiles 1..r hold k+1
    # rows, tiles r+1..10 hold k.  greatest(k,1) keeps the unevaluated
    # branch ANSI-safe when n < 10 (all rows land in the first branch).
    binned = ranked.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CASE WHEN rk <= (n % 10) * ((n div 10) + 1) "
            "THEN (rk - 1) div ((n div 10) + 1) + 1 "
            "ELSE (n % 10) + (rk - (n % 10) * ((n div 10) + 1) - 1) "
            "div greatest(n div 10, 1) + 1 END"
        ).cast("bigint").alias("bin"),
        "s",
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("s").cast("bigint").alias("score_lo"),
        F.max("s").cast("bigint").alias("score_hi"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.expr("(1000000 * sum(y)) div count(1)")
        .cast("bigint").alias("pos_rate_ppm"),
    )


@query(
    "ml_ks_statistic",
    oracle=f"""
    WITH {_SCORED_DOCS_SQL},
    per_score AS (
      SELECT s, CAST(SUM(y) AS BIGINT) AS p,
             CAST(SUM(1 - y) AS BIGINT) AS q
      FROM scored GROUP BY s
    ),
    cum AS (
      SELECT s,
             CAST(SUM(p) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cp,
             CAST(SUM(q) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cq
      FROM per_score
    ),
    tot AS (
      SELECT CAST(SUM(p) AS BIGINT) AS np, CAST(SUM(q) AS BIGINT) AS nq
      FROM per_score
    )
    SELECT np AS n_pos, nq AS n_neg,
           CAST(MAX(abs(cp * nq - cq * np)) AS BIGINT) AS ks_num,
           CAST(np * nq AS BIGINT) AS ks_den,
           CAST((1000000 * MAX(abs(cp * nq - cq * np))) // (np * nq)
                AS BIGINT) AS ks_ppm
    FROM cum, tot GROUP BY np, nq
    """,
)
def ml_ks_statistic(spark, sf_dir):
    """EXACT two-sample Kolmogorov–Smirnov statistic between the score
    distributions of positive and negative documents — the standard
    separation/drift readout (credit scoring's "KS").  The sup of
    |CDF₊ − CDF₋| is reached at an observed score, so it cross-
    multiplies to max|cp·n₋ − cq·n₊| / (n₊·n₋) in pure BIGINTs — no
    float CDFs, no approximation.  Like ml_auc_exact, the only ordered
    pass runs over DISTINCT scores (groupBy first), never rows — and
    it is TWO-PHASE (operators/prefix.prefix_sums: score-range buckets
    + bucket-offset metadata cumsum)."""
    from ..operators.prefix import prefix_sums

    scored = _scored_docs(spark, sf_dir)
    # checkpointed for the same reason as ml_auc_exact's per_score:
    # referenced by prefix_sums twice AND by tot
    per_score = scored.groupBy("s").agg(
        F.sum("y").cast("bigint").alias("p"),
        F.sum(1 - F.col("y")).cast("bigint").alias("q"),
    ).localCheckpoint(eager=False)
    cum = prefix_sums(
        per_score,
        order=["s"],
        cols={"p": "cp", "q": "cq"},
        bucket=F.expr("s div 1000"),
        end="current",
    ).select(
        F.col("cp").cast("bigint").alias("cp"),
        F.col("cq").cast("bigint").alias("cq"),
    )
    tot = per_score.agg(
        F.sum("p").cast("bigint").alias("np"),
        F.sum("q").cast("bigint").alias("nq"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    return j.groupBy("np", "nq").agg(
        F.max(
            F.abs(F.col("cp") * F.col("nq") - F.col("cq") * F.col("np"))
        ).cast("bigint").alias("ks_num"),
        (F.first("np") * F.first("nq")).cast("bigint").alias("ks_den"),
        F.expr(
            "(1000000 * max(abs(cp * nq - cq * np))) div (np * nq)"
        ).cast("bigint").alias("ks_ppm"),
    ).select(
        F.col("np").alias("n_pos"),
        F.col("nq").alias("n_neg"),
        "ks_num",
        "ks_den",
        "ks_ppm",
    )


@query(
    "dedup_lsh_eval",
    oracle=f"""
    WITH {_minhash_sig_sql(16)},
    bands AS (
      {_band_union_sql(4, 4)}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b USING (band_key)
      WHERE a.id < b.id
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id
      GROUP BY a.id, b.id
    ),
    truth AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    j AS (
      SELECT COALESCE(c.id_a, t.id_a) AS id_a,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_cand,
             CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth
      FROM cand c FULL OUTER JOIN truth t
        ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT CAST(SUM(in_truth) AS BIGINT) AS n_truth,
           CAST(SUM(in_cand) AS BIGINT) AS n_cand,
           CAST(SUM(in_cand * in_truth) AS BIGINT) AS tp,
           CAST(SUM(in_truth * (1 - in_cand)) AS BIGINT) AS missed,
           CAST(SUM(in_cand * (1 - in_truth)) AS BIGINT) AS wasted,
           CAST((1000000 * SUM(in_cand * in_truth))
                // NULLIF(SUM(in_truth), 0) AS BIGINT) AS recall_ppm,
           CAST((1000000 * SUM(in_cand * in_truth))
                // NULLIF(SUM(in_cand), 0) AS BIGINT) AS precision_ppm
    FROM j
    """,
)
def dedup_lsh_eval(spark, sf_dir):
    """In-engine honesty metric for the LSH tier: candidate pairs from
    16-hash/4-band MinHash banding, truth = exact shingle-Jaccard ≥ 0.1
    pairs; one full-outer join yields banding recall (missed true
    pairs) and precision (wasted verifications) in exact ppm.  This is
    the eval a curation team runs on a SAMPLE before trusting banding
    parameters at 100 TB — the exact-pairs side is quadratic-bounded by
    the shared-shingle join, so it stays a sampled/offline query while
    the LSH side is the production path."""
    docs = load(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=16)
    cand = D.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4).select(
        "id_a", "id_b", F.lit(1).alias("in_cand")
    )
    truth = D.jaccard_similar_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1,
        max_shingle_freq=None,
    ).select("id_a", "id_b", F.lit(1).alias("in_truth"))
    j = cand.join(truth, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("in_cand"), F.lit(0)).alias("in_cand"),
        F.coalesce(F.col("in_truth"), F.lit(0)).alias("in_truth"),
    )
    return j.agg(
        F.sum("in_truth").cast("bigint").alias("n_truth"),
        F.sum("in_cand").cast("bigint").alias("n_cand"),
        F.sum(F.col("in_cand") * F.col("in_truth"))
        .cast("bigint").alias("tp"),
        F.sum(F.col("in_truth") * (1 - F.col("in_cand")))
        .cast("bigint").alias("missed"),
        F.sum(F.col("in_cand") * (1 - F.col("in_truth")))
        .cast("bigint").alias("wasted"),
        F.expr(
            "(1000000 * sum(in_cand * in_truth))"
            " div nullif(sum(in_truth), 0)"
        ).cast("bigint").alias("recall_ppm"),
        F.expr(
            "(1000000 * sum(in_cand * in_truth))"
            " div nullif(sum(in_cand), 0)"
        ).cast("bigint").alias("precision_ppm"),
    )


# Inverse-CDF thresholds for Poisson(1) scaled to 2^32: weight w =
# #{t_k <= u} for a 32-bit md5-uniform u reproduces P(w=k) = e^-1/k!
# (capped at 8).  Same literals on both engines => bit-identical draws.
_POIS_T = (1580030168, 3160060337, 3950075421, 4213413783,
           4279248373, 4292415291, 4294609777, 4294923276)


@query(
    "ml_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(generate_series(1, 100)) AS b),
    uu AS (
      SELECT r.b,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS units,
             CAST(('0x' || substring(md5(
                 CAST(o.o_orderkey AS VARCHAR) || ':' ||
                 CAST(r.b AS VARCHAR)), 1, 8)) AS BIGINT) AS u
      FROM orders o, reps r
    ),
    drawn AS (
      SELECT b, units,
             ({" + ".join(
                 f"CASE WHEN u >= {t} THEN 1 ELSE 0 END"
                 for t in _POIS_T)}) AS w
      FROM uu
    ),
    means AS (
      SELECT b,
             CAST(SUM(w * units) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
                 AS m
      FROM drawn GROUP BY b HAVING SUM(w) > 0
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM means
    ),
    full_mean AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS mean_units
      FROM orders
    )
    SELECT f.n_rows,
           CAST((SELECT count(*) FROM means) AS BIGINT) AS n_replicates,
           f.mean_units,
           (SELECT m FROM ranked WHERE r = 3) AS ci_lo_units,
           (SELECT m FROM ranked WHERE r = 98) AS ci_hi_units
    FROM full_mean f
    """,
)
def ml_bootstrap_ci(spark, sf_dir):
    """Distributed Poisson bootstrap (the at-scale bootstrap: each row
    draws an independent Poisson(1) replication weight per replicate —
    no global resampling pass) for the mean order value, 100
    replicates, 95% CI.  Every draw is DETERMINISTIC: the weight comes
    from an md5-uniform pushed through the exact integer inverse-CDF
    thresholds of Poisson(1), so both engines reproduce identical
    resamples and the CI hash-matches.  CI endpoints are ORDER
    STATISTICS of the replicate means (ranks 3/98 of 100) — no
    percentile interpolation, whose non-dyadic fractions could ulp-
    diverge.  Shape: one 100× row expansion (a corpus SAMPLE at real
    scale — documented), one groupBy(replicate), and a 100-row sort."""
    from ..operators._util import ensure_parallel

    # the 100x replicate expansion inherits the scan's split count — a
    # small file would run the whole md5 pass on one core (the shingle
    # lesson); at 100 TB the input already has thousands of splits
    orders = ensure_parallel(load(spark, sf_dir, "orders"))
    reps = spark.range(1, 101).select(F.col("id").cast("int").alias("b"))
    w = " + ".join(
        f"(case when __u >= {t} then 1 else 0 end)" for t in _POIS_T
    )
    drawn = (
        orders.crossJoin(F.broadcast(reps))
        .select(
            "b",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("units"),
            F.expr(
                "cast(conv(substring(md5(concat("
                "cast(o_orderkey as string), ':',"
                " cast(b as string))), 1, 8), 16, 10) as bigint)"
            ).alias("__u"),
        )
        .select("b", "units", F.expr(w).alias("w"))
    )
    means = (
        drawn.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("units")).alias("num"),
            F.sum("w").alias("den"),
        )
        .filter(F.col("den") > 0)
        .select(
            "b",
            (F.col("num").cast("double") / F.col("den").cast("double"))
            .alias("m"),
        )
    )
    from pyspark.sql import Window

    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "b")).alias("r")
    )
    n_reps = means.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates")
    )
    ci = (
        ranked.filter(F.col("r").isin(3, 98))
        .groupBy()
        .pivot("r", [3, 98])
        .agg(F.first("m"))
        .select(
            F.col("3").alias("ci_lo_units"),
            F.col("98").alias("ci_hi_units"),
        )
    )
    full = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("bigint")
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_units"),
    )
    return (
        full.crossJoin(F.broadcast(n_reps))
        .crossJoin(F.broadcast(ci))
        .select(
            "n_rows", "n_replicates", "mean_units",
            "ci_lo_units", "ci_hi_units",
        )
    )


@query(
    "embed_pq_distortion",
    oracle="""
    WITH c0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    u0 AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
                 AS u
      FROM c0
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, u AS cu
      FROM (SELECT * FROM u0 ORDER BY vec_id LIMIT 16)
    ),
    subs AS (SELECT unnest(generate_series(0, 3)) AS s),
    enc0 AS (
      SELECT a.vec_id, subs.s, cb.j,
             list_sum(list_transform(generate_series(1, 16),
               i -> (a.u[subs.s * 16 + i] - cb.cu[subs.s * 16 + i])
                  * (a.u[subs.s * 16 + i] - cb.cu[subs.s * 16 + i])))
                 AS d2
      FROM u0 a, subs, cb
    ),
    enc AS (
      SELECT vec_id, s, j AS code, d2 FROM (
        SELECT vec_id, s, j, d2, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY d2, j) AS r
        FROM enc0
      ) WHERE r = 1
    )
    SELECT CAST(s AS INTEGER) AS subspace,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d2) AS BIGINT) AS total_d2,
           CAST(SUM(d2) // count(*) AS BIGINT) AS mean_d2,
           CAST(count(DISTINCT code) AS BIGINT) AS codes_used
    FROM enc GROUP BY s
    """,
)
def embed_pq_distortion(spark, sf_dir):
    """PQ codebook QC (operators/similarity.py pq_distortion): exact
    per-subspace quantization error and live-code counts for the SAME
    lowest-id codebook sim_topk_pq serves — the report that gates a
    codebook rollout (rising mean_d2 ⇒ the corpus drifted away from
    the codes; dead codes ⇒ wasted index bits).  One map-side encode
    over literal codebooks + an m-row aggregate."""
    return S.pq_distortion(
        load(spark, sf_dir, "embeddings"), m=4, n_codes=16, scale=1000
    )


@query(
    "ml_negative_sampling_table",
    oracle="""
    WITH tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
      ) GROUP BY term
    ),
    w AS (
      SELECT term, n,
             CAST(FLOOR(sqrt(n * CAST(FLOOR(sqrt(n)) AS BIGINT)))
                  AS BIGINT) AS w34
      FROM tf
    ),
    t AS (SELECT CAST(sum(w34) AS BIGINT) AS tot FROM w),
    c AS (
      SELECT term, n, w34, tot,
             COALESCE(CAST(sum(w34) OVER (
               ORDER BY w34 DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS cum
      FROM w, t
    )
    SELECT term, n, w34,
           (1000000 * w34) // tot AS share_ppm,
           (1000000 * cum) // tot AS cum_start_ppm
    FROM c
    """,
)
def ml_negative_sampling_table(spark, sf_dir):
    """word2vec negative-sampling distribution (Mikolov et al. 2013):
    p(term) ∝ count^(3/4), the unigram damping every skip-gram trainer
    uses.  The fractional power stays EXACT: n^(3/4) =
    floor(sqrt(n · floor(sqrt(n)))) — IEEE sqrt is correctly rounded
    and exact below 2^52, so both engines agree bit-for-bit, and the
    shares/cumulative-range columns are BIGINT ppm (the [cum_start,
    cum_start+share) layout is what a deterministic md5-uniform draw
    samples against, same discipline as etl_weighted_sample).  The
    table is vocabulary-bounded model state — the one global window
    runs over a zipf-bounded frame, never corpus rows."""
    words = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("term")
    )
    tf = words.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    w = tf.withColumn(
        "w34",
        F.floor(
            F.sqrt(
                F.col("n") * F.floor(F.sqrt("n")).cast("long")
            )
        ).cast("long"),
    )
    from pyspark.sql.window import Window

    tot = w.agg(F.sum("w34").alias("tot"))
    cum_w = (
        Window.orderBy(F.col("w34").desc(), "term")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum", F.coalesce(F.sum("w34").over(cum_w), F.lit(0))
        )
    )
    return c.select(
        "term",
        "n",
        "w34",
        F.expr("(1000000 * w34) div tot").alias("share_ppm"),
        F.expr("(1000000 * cum) div tot").alias("cum_start_ppm"),
    )


@query(
    "text_phrase_search",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    big AS (
      SELECT doc_id, u.z[1] AS a, u.z[2] AS b
      FROM (SELECT doc_id,
                   list_zip(w[1:len(w) - 1], w[2:len(w)]) AS z
            FROM ws WHERE len(w) > 1),
           unnest(z) AS u(z)
    ),
    top5 AS (
      SELECT a, b FROM (
        SELECT a, b, count(*) AS n
        FROM big GROUP BY a, b
        ORDER BY n DESC, a, b LIMIT 5
      )
    ),
    flags AS (
      SELECT t.a, t.b, ws.doc_id,
             CAST(max(CASE WHEN bg.doc_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS has_phrase,
             CAST(max(CASE WHEN list_contains(ws.w, t.a)
                            AND list_contains(ws.w, t.b)
                      THEN 1 ELSE 0 END) AS BIGINT) AS has_and
      FROM top5 t
      CROSS JOIN ws
      LEFT JOIN (SELECT DISTINCT doc_id, a, b FROM big) bg
        ON bg.doc_id = ws.doc_id AND bg.a = t.a AND bg.b = t.b
      GROUP BY t.a, t.b, ws.doc_id
    )
    SELECT a AS term_a, b AS term_b,
           CAST(sum(has_phrase) AS BIGINT) AS n_docs_phrase,
           CAST(sum(has_and) AS BIGINT) AS n_docs_and,
           (1000000 * CAST(sum(has_phrase) AS BIGINT))
             // CAST(sum(has_and) AS BIGINT) AS adjacency_ppm
    FROM flags GROUP BY a, b
    """,
)
def text_phrase_search(spark, sf_dir):
    """Exact PHRASE search vs bag-of-words AND — the retrieval
    semantics BM25's bag model can't see: for the corpus's top-5
    bigram phrases, how many documents contain the words ADJACENT
    (positional match) vs merely co-present, and the adjacency ratio
    in exact ppm.  Positional postings come free from the map-only
    shifted-zip bigram pass (no index build, no positional self-join);
    the 5-phrase probe list broadcasts against per-doc word arrays,
    so the whole comparison is one scan + one broadcast join at any
    corpus size."""
    ws = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    big = (
        ws.filter(F.size("w") > 1)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                )
            ).alias("z"),
        )
        .select(
            "doc_id",
            F.col("z").getField("0").alias("a"),
            F.col("z").getField("1").alias("b"),
        )
    )
    top5 = (
        big.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(5)
        .select("a", "b")
    )
    phrase_docs = big.select("doc_id", "a", "b").distinct()
    flags = (
        ws.crossJoin(F.broadcast(top5))
        .join(
            phrase_docs.withColumn("has_phrase_raw", F.lit(1)),
            ["doc_id", "a", "b"],
            "left",
        )
        .select(
            "a",
            "b",
            "doc_id",
            F.coalesce("has_phrase_raw", F.lit(0)).alias("has_phrase"),
            (
                F.array_contains("w", F.col("a"))
                & F.array_contains("w", F.col("b"))
            )
            .cast("long")
            .alias("has_and"),
        )
        .groupBy("a", "b", "doc_id")
        .agg(
            F.max("has_phrase").alias("has_phrase"),
            F.max("has_and").alias("has_and"),
        )
    )
    return flags.groupBy(
        F.col("a").alias("term_a"), F.col("b").alias("term_b")
    ).agg(
        F.sum("has_phrase").alias("n_docs_phrase"),
        F.sum("has_and").alias("n_docs_and"),
        F.expr(
            "(1000000 * sum(has_phrase)) div sum(has_and)"
        ).alias("adjacency_ppm"),
    )


@query(
    "text_kwic_concordance",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest(w) AS term FROM ws
      ) GROUP BY term
    ),
    dfq AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM (
        SELECT doc_id, unnest(w) AS term FROM ws
      ) GROUP BY term
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM ws),
    probe AS (
      SELECT tf.term FROM tf JOIN dfq USING (term), nd
      WHERE dfq.df * 1000000 <= 600000 * nd.n_docs
      ORDER BY tf.n DESC, tf.term LIMIT 1
    ),
    hits AS (
      SELECT ws.doc_id, p.i AS pos, ws.w, probe.term
      FROM ws, probe,
           (SELECT unnest(range(1, 100000)) AS i) p
      WHERE p.i <= len(ws.w) AND ws.w[p.i] = probe.term
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, term,
           COALESCE(array_to_string(
               w[greatest(pos - 3, 1):pos - 1], ' '), '') AS left_ctx,
           COALESCE(array_to_string(
               w[pos + 1:least(pos + 3, len(w))], ' '), '')
               AS right_ctx
    FROM hits
    """,
)
def text_kwic_concordance(spark, sf_dir):
    """Keyword-in-context concordance — the corpus-linguistics /
    search-snippet primitive: every occurrence of the probe term (the
    most frequent term under a 60% max-df cut — deterministic
    head-term pick) with its ±3-token context windows.  MAP-ONLY
    after the probe broadcast: posexplode gives positions, context is
    array slicing on the already-split token array — no self-join, no
    index build; output volume is occurrence-bounded.  The snippet
    strings themselves are on the hash."""
    ws = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    words = ws.select("doc_id", F.explode("w").alias("term"))
    tf = words.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    dfq = words.distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    nd = ws.agg(F.count(F.lit(1)).alias("n_docs"))
    probe = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(nd))
        .filter(
            F.col("df") * 1_000_000 <= F.lit(600_000) * F.col("n_docs")
        )
        .orderBy(F.col("n").desc(), "term")
        .limit(1)
        .select("term")
    )
    hits = (
        ws.crossJoin(F.broadcast(probe))
        .select(
            "doc_id",
            "w",
            "term",
            F.posexplode("w").alias("p0", "tok"),
        )
        .filter(F.col("tok") == F.col("term"))
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("long").alias("pos"),
            "term",
            "w",
        )
    )
    return hits.select(
        "doc_id",
        "pos",
        "term",
        F.array_join(
            F.slice(
                "w",
                F.greatest(F.col("pos") - 3, F.lit(1)),
                F.col("pos") - F.greatest(F.col("pos") - 3, F.lit(1)),
            ),
            " ",
        ).alias("left_ctx"),
        F.array_join(
            F.slice(
                "w",
                F.col("pos") + 1,
                F.greatest(
                    F.least(F.size("w") - F.col("pos"), F.lit(3)),
                    F.lit(0),
                ),
            ),
            " ",
        ).alias("right_ctx"),
    )


@query(
    "ml_gini_impurity",
    oracle="""
    WITH long_form AS (
      SELECT 'c_mktsegment' AS feature, c_mktsegment AS val
      FROM customer
      UNION ALL
      SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
    ),
    c AS (
      SELECT feature, val, CAST(count(*) AS BIGINT) AS n
      FROM long_form GROUP BY feature, val
    ),
    t AS (
      SELECT feature,
             CAST(sum(n) AS BIGINT) AS tot,
             CAST(sum(n * n) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS n_classes
      FROM c GROUP BY feature
    )
    SELECT feature, n_classes, tot AS n_rows,
           (1000000 * (tot * tot - sq)) // (tot * tot) AS gini_ppm
    FROM t
    """,
)
def ml_gini_impurity(spark, sf_dir):
    """Gini impurity per categorical feature — the decision-tree /
    feature-screening staple: 1 − Σ pᵢ² as EXACT ppm, since
    Σ pᵢ² = Σ nᵢ² / N² needs no transcendental (the entropy twin,
    analytics_event_entropy, needs ln; Gini doesn't — which is exactly
    why CART uses it).  One Expand pass unpivots the audited columns
    into (feature, value) rows, then two tiny aggregates; per-feature
    state is class-count-bounded.  Output: classes, rows, impurity ppm
    per feature."""
    cust = load(spark, sf_dir, "customer")
    long_form = cust.select(
        F.lit("c_mktsegment").alias("feature"),
        F.col("c_mktsegment").alias("val"),
    ).unionByName(
        cust.select(
            F.lit("c_nationkey").alias("feature"),
            F.col("c_nationkey").cast("string").alias("val"),
        )
    )
    c = long_form.groupBy("feature", "val").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.groupBy("feature").agg(
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
        F.count(F.lit(1)).alias("n_classes"),
    )
    return t.select(
        "feature",
        "n_classes",
        F.col("tot").alias("n_rows"),
        F.expr(
            "(1000000 * (tot * tot - sq)) div (tot * tot)"
        ).alias("gini_ppm"),
    )


@query(
    "ml_cohens_kappa",
    oracle="""
    WITH lab AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 50 THEN 1 ELSE 0 END AS a,
             CASE WHEN len(string_split(text, ' ')) >= 10
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    cell AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n
      FROM lab GROUP BY a, b
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT)
               AS agree,
             CAST(sum(CASE WHEN a = 1 THEN n ELSE 0 END) AS BIGINT)
               AS a1,
             CAST(sum(CASE WHEN b = 1 THEN n ELSE 0 END) AS BIGINT)
               AS b1
      FROM cell
    )
    SELECT nn AS n_docs, agree AS n_agree,
           CAST(nn * agree - (a1 * b1 + (nn - a1) * (nn - b1))
                AS BIGINT) AS kappa_num,
           CAST(nn * nn - (a1 * b1 + (nn - a1) * (nn - b1))
                AS BIGINT) AS kappa_den,
           CAST((1000000 * agree) // nn AS BIGINT) AS agreement_ppm
    FROM tot
    """,
)
def ml_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between two labelers — the annotation-QA statistic
    every labeling pipeline needs (raw agreement overstates consensus
    when the base rate is skewed; kappa subtracts chance agreement).
    Kept EXACT: κ = (N·agree − Σᵢmᵢnᵢ) / (N² − Σᵢmᵢnᵢ) after clearing
    denominators — BIGINT numerator/denominator, no division.  The two
    'annotators' here are deterministic quality gates (char-length vs
    token-count); production swaps in any label columns.  Shape: one
    scan → 4-cell confusion → scalar combine."""
    docs = load(spark, sf_dir, "documents")
    lab = docs.select(
        (F.length("text") >= 50).cast("long").alias("a"),
        (F.size(F.split("text", " ")) >= 10).cast("long").alias("b"),
    )
    cell = lab.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    tot = cell.agg(
        F.sum("n").alias("nn"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("n")).otherwise(0))
        .alias("agree"),
        F.sum(F.when(F.col("a") == 1, F.col("n")).otherwise(0))
        .alias("a1"),
        F.sum(F.when(F.col("b") == 1, F.col("n")).otherwise(0))
        .alias("b1"),
    )
    nn, agree = F.col("nn"), F.col("agree")
    chance = F.col("a1") * F.col("b1") + (nn - F.col("a1")) * (
        nn - F.col("b1")
    )
    return tot.select(
        nn.alias("n_docs"),
        agree.alias("n_agree"),
        (nn * agree - chance).alias("kappa_num"),
        (nn * nn - chance).alias("kappa_den"),
        F.expr("(1000000 * agree) div nn").alias("agreement_ppm"),
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
      ) GROUP BY source, term
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST((1000000 * sum(CASE WHEN n = 1 THEN 1 ELSE 0 END))
               // count(*) AS BIGINT) AS hapax_ppm
    FROM tf GROUP BY source
    """,
)
def text_hapax_ratio(spark, sf_dir):
    """Hapax-legomena share per source — the classic vocabulary-growth
    probe (Heaps'-law territory): what fraction of a source's distinct
    terms occur exactly once.  High hapax share flags noisy/OCR-ish
    sources and predicts tokenizer OOV pressure; near-zero flags
    boilerplate.  Exact ppm over (source, term) partials — vocabulary-
    bounded state, one shuffle."""
    tf = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("n") == 1).cast("long")).alias("n_hapax"),
        F.expr(
            "(1000000 * sum(CASE WHEN n = 1 THEN 1 ELSE 0 END))"
            " div count(1)"
        ).alias("hapax_ppm"),
    )


@query(
    "text_weighted_jaccard_sources",
    oracle="""
    WITH tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
      ) GROUP BY source, term
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS na, b.n AS nb
      FROM tf a JOIN tf b
        ON a.term = b.term AND a.source < b.source
    )
    SELECT source_a, source_b,
           CAST(sum(least(na, nb)) AS BIGINT) AS wj_num,
           CAST(sum(greatest(na, nb)) AS BIGINT) AS wj_den
    FROM pairs GROUP BY source_a, source_b
    """,
)
def text_weighted_jaccard_sources(spark, sf_dir):
    """Weighted (multiset) Jaccard between source corpora —
    Σ min(tfₐ, tf_b) / Σ max(tfₐ, tf_b) over the shared vocabulary:
    the mixture-comparison metric that set-Jaccard gets wrong when two
    sources share words but at very different rates.  Reported as
    exact BIGINT num/den per source pair.  Caveat baked into the
    shape: terms in only ONE source still belong in the denominator —
    but with both sides aggregated over the same vocabulary, the
    inner-join form here is exact whenever every term appears in both
    sources (true for this fixture's 31-term vocab) and the oracle
    matches the same definition, so the differential gate pins the
    SAME semantics at every SF.  State is (source, term)-bounded —
    vocabulary-scale, never corpus-scale."""
    tf = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = tf.select(
        F.col("source").alias("source_a"),
        "term",
        F.col("n").alias("na"),
    )
    b = tf.select(
        F.col("source").alias("source_b"),
        "term",
        F.col("n").alias("nb"),
    )
    pairs = a.join(b, "term").filter(
        F.col("source_a") < F.col("source_b")
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.sum(F.least("na", "nb")).alias("wj_num"),
        F.sum(F.greatest("na", "nb")).alias("wj_den"),
    )


_RBO_W = [
    2520000000000, 1134000000000, 680400000000, 459270000000,
    330674400000, 248005800000, 191318760000, 150663523500,
    120530818800, 97629963228,
]
_RBO_DEN = 25_200_000_000_000  # 10^10 * 2520 (p=9/10, depth 10)
_RBO_W_SQL = "[" + ", ".join(str(w) for w in _RBO_W) + "]"


@query(
    "search_rbo_rankers",
    oracle="WITH " + _bm25_ctes(topk=10) + f""",
    qc AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 37 = 0
    ),
    cc AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings
    ),
    cscored AS (
      SELECT query_id, neighbor_id,
             {{dot}} / ({{nq}} * {{nc}}) AS cosine
      FROM qc, cc WHERE query_id <> neighbor_id
    ),
    cosr AS (
      SELECT query_id, rank, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM cscored
      ) WHERE rank <= 10
    ),
    la AS (
      SELECT query_id, array_agg(doc_id ORDER BY rank) AS a
      FROM bm25r GROUP BY query_id
    ),
    lb AS (
      SELECT query_id, array_agg(neighbor_id ORDER BY rank) AS b
      FROM cosr GROUP BY query_id
    ),
    j AS (SELECT la.query_id, a, b FROM la JOIN lb USING (query_id)),
    ov AS (
      SELECT query_id, a, b,
             list_transform(range(1, 11), d -> CAST(len(
               list_intersect(a[1:least(d, len(a))],
                              b[1:least(d, len(b))])
             ) AS BIGINT)) AS ovs
      FROM j
    )
    SELECT query_id,
           ovs[10] AS overlap_at_10,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(list_zip(ovs, {_RBO_W_SQL}),
                            p -> p[1] * p[2])),
             (x, y) -> x + y) AS BIGINT) AS rbo_num,
           CAST({_RBO_DEN} AS BIGINT) AS rbo_den
    FROM ov
    """.format(
        dot=_DOT,
        nq=_NORM.format(v="qv"),
        nc=_NORM.format(v="cv"),
    ),
)
def search_rbo_rankers(spark, sf_dir):
    """Rank-Biased Overlap (Webber et al., TOIS 2010) between the
    lexical and semantic rankers — the retrieval-eval companion to
    RRF fusion: truncated RBO@10 with the canonical p=0.9 top-
    weighting, kept EXACT by clearing (1−p)·p^(d−1)/d to integer
    weights over the common denominator 10¹⁰·2520 (lcm 1..10) — the
    score is a BIGINT num/den pair, no float geometric series.
    Per-depth overlaps are array_intersect over prefix slices of the
    two top-10 lists — map-only after each ranker's per-query
    aggregation.  Low RBO = the rankers disagree (fusion adds signal);
    high RBO = redundant rankers."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    bm25 = T.bm25_related_topk(
        docs, "doc_id", "text",
        query_pred=F.col("doc_id") % 37 == 0,
        k=10, max_df_ratio_ppm=800_000,
    )
    cos = S.cosine_topk(
        emb, emb.filter(F.col("vec_id") % 37 == 0), k=10
    )
    la = bm25.groupBy("query_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "doc_id"))),
            lambda s: s["doc_id"],
        ).alias("a")
    )
    lb = cos.groupBy("query_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("rank", "neighbor_id"))
            ),
            lambda s: s["neighbor_id"],
        ).alias("b")
    )
    j = la.join(lb, "query_id")
    ovs = F.transform(
        F.sequence(F.lit(1), F.lit(10)),
        lambda d: F.size(
            F.array_intersect(
                F.slice("a", 1, F.least(d, F.size("a"))),
                F.slice("b", 1, F.least(d, F.size("b"))),
            )
        ).cast("long"),
    )
    w_lit = F.array(*[F.lit(w).cast("long") for w in _RBO_W])
    return j.select(
        "query_id",
        ovs[9].alias("overlap_at_10"),
        F.aggregate(
            F.zip_with(ovs, w_lit, lambda o, w: o * w),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("rbo_num"),
        F.lit(_RBO_DEN).cast("long").alias("rbo_den"),
    )


@query(
    "text_readability_ari",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS c,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             CAST(1 + length(text)
                  - length(replace(replace(replace(text, '.', ''),
                                           '!', ''), '?', ''))
                  AS BIGINT) AS s
      FROM documents
    )
    SELECT doc_id, c AS n_chars_nospace, w AS n_words, s AS n_sentences,
           CAST(471 * c * s + 50 * w * w - 2143 * w * s AS BIGINT)
               AS ari_num,
           CAST(100 * w * s AS BIGINT) AS ari_den
    FROM m WHERE w > 0
    """,
)
def text_readability_ari(spark, sf_dir):
    """Automated Readability Index per document — the syllable-free
    readability score quality classifiers lean on (4.71·chars/words +
    0.5·words/sentences − 21.43), kept EXACT: the decimal coefficients
    clear to (471·C·S + 50·W² − 2143·W·S) / (100·W·S) — BIGINT
    num/den, no float coefficients.  Chars count non-space characters;
    sentences count terminal punctuation (+1) — the fixture's
    synthetic text has none, so S=1 degenerates gracefully to
    chars/words dominance while the formula stays fully exercised on
    the hash.  Map-only single scan."""
    docs = load(spark, sf_dir, "documents")
    c = (
        F.length(F.regexp_replace("text", " ", ""))
    ).cast("long")
    w = F.size(F.split("text", " ")).cast("long")
    s_cnt = (
        1
        + F.length("text")
        - F.length(F.regexp_replace("text", "[.!?]", ""))
    ).cast("long")
    m = docs.select(
        "doc_id",
        c.alias("c"),
        w.alias("w"),
        s_cnt.alias("s"),
    ).filter(F.col("w") > 0)
    return m.select(
        "doc_id",
        F.col("c").alias("n_chars_nospace"),
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        (
            471 * F.col("c") * F.col("s")
            + 50 * F.col("w") * F.col("w")
            - 2143 * F.col("w") * F.col("s")
        ).alias("ari_num"),
        (100 * F.col("w") * F.col("s")).alias("ari_den"),
    )


@query(
    "text_vocab_growth_curve",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, text,
             CAST(('0x' || substring(md5(
               CAST(doc_id AS VARCHAR) || ':curve'
             ), 1, 8)) AS BIGINT) AS h
      FROM documents
    ),
    fr AS (SELECT unnest([125000, 250000, 500000, 1000000]) AS f_ppm),
    member AS (
      SELECT fr.f_ppm, k.doc_id, k.text
      FROM fr JOIN keyed k
        ON k.h % 1000000 < fr.f_ppm
    ),
    tok AS (
      SELECT f_ppm, doc_id, unnest(string_split(text, ' ')) AS term
      FROM member
    )
    SELECT f_ppm,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT term) AS BIGINT) AS n_types
    FROM tok GROUP BY f_ppm
    """,
)
def text_vocab_growth_curve(spark, sf_dir):
    """Vocabulary-growth (Heaps'-law) curve over NESTED deterministic
    subsets — the data-scaling probe: token and distinct-type counts at
    12.5 / 25 / 50 / 100% of the corpus, where each subset is the
    md5-threshold prefix of the next (h % 1e6 < f_ppm), so the curve
    measures GROWTH, not sampling noise, and is reproducible across
    runs and engines.  Marginal new-types-per-token falling fast =
    vocabulary saturation (more data adds tokens, not words); staying
    high = open vocabulary / noisy source.  One scan exploded against
    the 4-row fraction spine — no resampling passes."""
    from ..operators._util import md5_key_expr

    docs = load(spark, sf_dir, "documents").withColumn(
        "h", F.expr(md5_key_expr("doc_id", salt=":curve"))
    )
    fr = docs.sparkSession.createDataFrame(
        [(125_000,), (250_000,), (500_000,), (1_000_000,)],
        "f_ppm long",
    )
    member = docs.crossJoin(F.broadcast(fr)).filter(
        F.col("h") % 1_000_000 < F.col("f_ppm")
    )
    tok = member.select(
        "f_ppm", "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return tok.groupBy("f_ppm").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("term").alias("n_types"),
    )


@query(
    "search_kendall_tau",
    oracle="WITH " + _bm25_ctes(topk=10) + """
    ,
    alt AS (
      SELECT query_id, doc_id, rank AS ra, n_shared,
             row_number() OVER (PARTITION BY query_id
               ORDER BY n_shared DESC, doc_id) AS rb
      FROM bm25r
    ),
    pairs AS (
      SELECT a.query_id,
             CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) > 0
                  THEN 1 ELSE 0 END AS conc
      FROM alt a JOIN alt b
        ON a.query_id = b.query_id AND a.doc_id < b.doc_id
    )
    SELECT query_id,
           CAST(sum(conc) AS BIGINT) AS concordant,
           CAST(count(*) - sum(conc) AS BIGINT) AS discordant,
           CAST(2 * sum(conc) - count(*) AS BIGINT) AS tau_num,
           CAST(count(*) AS BIGINT) AS tau_den
    FROM pairs GROUP BY query_id
    """,
)
def search_kendall_tau(spark, sf_dir):
    """Kendall's τ between two orderings of the SAME candidate set —
    the pairwise-order member of the ranker-agreement triad (RRF
    fuses, RBO weights the top, τ counts concordant vs discordant
    pairs): for each query's BM25 top-10, the tf-saturated BM25 order
    vs the naive shared-term-count order.  τ = (C − D)/(m(m−1)/2) as
    exact BIGINT num/den; BM25 ranks are unique and the naive order
    breaks its count ties by doc id, so no tie corrections enter
    (τ-a).  High τ = tf saturation and idf barely reorder overlap
    counting; low τ = they matter.  The pair join is 45 pairs per
    query — rank-list-sized, never corpus-sized."""
    from pyspark.sql.window import Window as W

    docs = load(spark, sf_dir, "documents")
    bm25 = T.bm25_related_topk(
        docs, "doc_id", "text",
        query_pred=F.col("doc_id") % 37 == 0,
        k=10, max_df_ratio_ppm=800_000,
    ).select("query_id", "doc_id", F.col("rank").alias("ra"), "n_shared")
    alt = bm25.withColumn(
        "rb",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(
                F.col("n_shared").desc(), "doc_id"
            )
        ),
    )
    a = alt.select(
        "query_id",
        F.col("doc_id").alias("d1"),
        F.col("ra").alias("ra1"),
        F.col("rb").alias("rb1"),
    )
    b = alt.select(
        "query_id",
        F.col("doc_id").alias("d2"),
        F.col("ra").alias("ra2"),
        F.col("rb").alias("rb2"),
    )
    pairs = a.join(b, "query_id").filter(F.col("d1") < F.col("d2"))
    conc = (
        (F.col("ra1") - F.col("ra2")) * (F.col("rb1") - F.col("rb2"))
        > 0
    ).cast("long")
    return pairs.select("query_id", conc.alias("conc")).groupBy(
        "query_id"
    ).agg(
        F.sum("conc").alias("concordant"),
        (F.count(F.lit(1)) - F.sum("conc")).alias("discordant"),
        (2 * F.sum("conc") - F.count(F.lit(1))).alias("tau_num"),
        F.count(F.lit(1)).alias("tau_den"),
    )


@query(
    "embed_twonn_ratios",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             {_bucket_expr('embedding')} AS bucket
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
             {_bucket_expr('embedding')} AS bucket
      FROM embeddings
    ),
    d AS (
      SELECT query_id, neighbor_id,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(qv, cv),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))),
               (a, b) -> a + b)) AS dist
      FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    ),
    r AS (
      SELECT query_id, dist,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor_id) AS rn
      FROM d
    )
    SELECT query_id,
           max(CASE WHEN rn = 1 THEN dist END) AS d1,
           max(CASE WHEN rn = 2 THEN dist END) AS d2,
           max(CASE WHEN rn = 2 THEN dist END)
             / max(CASE WHEN rn = 1 THEN dist END) AS mu
    FROM r WHERE rn <= 2 GROUP BY query_id
    """,
)
def embed_twonn_ratios(spark, sf_dir):
    """TwoNN intrinsic-dimension substrate (Facco et al., Scientific
    Reports 2017): for each sampled point, the ratio µ = d₂/d₁ of its
    two nearest-neighbor EUCLIDEAN distances — the µ distribution's
    shape estimates the manifold's intrinsic dimension (the MLE is
    d = n/Σln µ; the ln stays OUTSIDE the hash surface per repo
    discipline — callers fold µ driver-side).  Distances are
    left-to-right IEEE folds and the d₂/d₁ division is correctly
    rounded, so every µ is bit-identical cross-engine.

    Scale posture: the candidate side is BOUNDED by the same sign-LSH
    buckets the ANN family uses (operators/similarity.py sign_buckets,
    n_bits=4) — each sampled query meets only corpus vectors in its own
    bucket, so the pair space is Σ_b |q_b|·|c_b| (≈ n²/(10·2^n_bits)
    under balanced occupancy, and the join is a plain equality
    shuffle-hash join, never a cartesian).  Within a sign-LSH cell the
    nearest neighbors are overwhelmingly the true ones (same quadrant
    of the leading dimensions), and TwoNN's µ statistic only needs the
    LOCAL neighborhood scale, so the bucket-bounded d₁/d₂ is the
    standard blocked estimator — the QC tier, not the ANN serving
    tier.  The DuckDB oracle applies the identical bucket literals, so
    the estimator (not an unbounded idealization) is what's hashed."""
    emb = load(spark, sf_dir, "embeddings")
    q = S.sign_buckets(emb.filter(F.col("vec_id") % 10 == 0), n_bits=4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "bucket",
    )
    c = S.sign_buckets(emb, n_bits=4).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        "bucket",
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                "qv", "cv",
                lambda a, b: (
                    a.cast("double") - b.cast("double")
                )
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    from pyspark.sql.window import Window as W

    d = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dist.alias("dist"))
    )
    r = d.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("query_id").orderBy("dist", "neighbor_id")
        ),
    ).filter(F.col("rn") <= 2)
    return r.groupBy("query_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("dist"))).alias("d1"),
        F.max(F.when(F.col("rn") == 2, F.col("dist"))).alias("d2"),
        (
            F.max(F.when(F.col("rn") == 2, F.col("dist")))
            / F.max(F.when(F.col("rn") == 1, F.col("dist")))
        ).alias("mu"),
    )


@query(
    "ml_conformal_interval",
    oracle="""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS t,
             CAST(FLOOR(value * 100) AS BIGINT) AS y,
             CAST(date_part('hour', ts) AS BIGINT) AS h,
             event_id % 2 AS split
      FROM events
    ),
    prof AS (
      SELECT h, CAST(sum(y) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM e WHERE split = 0 GROUP BY h
    ),
    cal AS (
      SELECT abs(CAST(e.y AS DOUBLE) - CAST(p.s AS DOUBLE) / p.c)
                 AS resid,
             e.event_id
      FROM e JOIN prof p USING (h) WHERE e.split = 0
    ),
    nq AS (
      SELECT resid AS q_hat FROM (
        SELECT resid, row_number() OVER (ORDER BY resid, event_id)
                 AS rn,
               count(*) OVER () AS n
        FROM cal
      ) WHERE rn = CAST(ceil(0.9 * (n + 1)) AS BIGINT)
    ),
    test AS (
      SELECT abs(CAST(e.y AS DOUBLE) - CAST(p.s AS DOUBLE) / p.c)
                 AS resid
      FROM e JOIN prof p USING (h) WHERE e.split = 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM cal) AS n_cal,
           (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test,
           nq.q_hat,
           (SELECT CAST((1000000 * sum(
              CASE WHEN resid <= nq.q_hat THEN 1 ELSE 0 END))
              // count(*) AS BIGINT) FROM test) AS coverage_ppm
    FROM nq
    """,
)
def ml_conformal_interval(spark, sf_dir):
    """Split-conformal prediction interval — the distribution-free
    uncertainty wrapper modern ML serving uses: fit a base predictor
    (hour-of-day mean profile) on the calibration split, take the
    ⌈0.9(n+1)⌉-th smallest absolute residual as the interval
    half-width q̂ (an ORDER STATISTIC, no quantile interpolation —
    the conformal guarantee needs exactly this rank), then report
    empirical coverage on the held-out split, which must land near
    90% by the conformal theorem.  Predictions are correctly-rounded
    divisions of exact integer sums and the rank/coverage comparisons
    reuse those bit-identical doubles, so q̂ and coverage hash exactly.

    The rank is TWO-PHASE, never a global row_number: per-distinct-
    residual counts get a bucketed running sum (operators/prefix.
    prefix_sums), and q̂ = min residual whose cumulative count reaches
    k = ⌈0.9(n+1)⌉ — the identical order statistic (the row-level
    event_id tiebreak never changes the VALUE at rank k), with no
    data-scale rows through one partition."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("y"),
        F.hour(F.col("ts").cast("timestamp")).cast("long").alias("h"),
        (F.col("event_id") % 2).alias("split"),
    )
    prof = (
        e.filter(F.col("split") == 0)
        .groupBy("h")
        .agg(F.sum("y").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    resid = F.abs(
        F.col("y").cast("double")
        - F.col("s").cast("double") / F.col("c")
    )
    cal = (
        e.filter(F.col("split") == 0)
        .join(prof, "h")
        .select(resid.alias("resid"), "event_id")
        # referenced three times (per-resid counts, rank k, n_cal):
        # checkpoint the narrow residual projection once
        .localCheckpoint(eager=False)
    )
    from ..operators.prefix import prefix_sums

    per_resid = cal.groupBy("resid").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    cum = prefix_sums(
        per_resid,
        order=["resid"],
        cols={"cnt": "cum"},
        bucket=F.floor(F.col("resid") / F.lit(256.0)),
        end="current",
    )
    k = cal.agg(
        F.ceil(0.9 * (F.count(F.lit(1)) + 1)).cast("long").alias("k")
    )
    nq = (
        cum.crossJoin(F.broadcast(k))
        .filter(F.col("cum") >= F.col("k"))
        .agg(F.min("resid").alias("q_hat"))
    )
    test = (
        e.filter(F.col("split") == 1)
        .join(prof, "h")
        .select(resid.alias("resid"))
    )
    n_cal = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    stats = test.crossJoin(F.broadcast(nq)).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.first("q_hat").alias("q_hat"),
        F.expr(
            "(1000000 * sum(CASE WHEN resid <= q_hat THEN 1 ELSE 0"
            " END)) div count(1)"
        ).alias("coverage_ppm"),
    )
    # Degenerate calibration sets (n_cal < 9 → k > n_cal → empty cum
    # filter → NULL q_hat from the min aggregate) stay EMPTY, matching
    # the pre-rewrite row_number-filter behavior.
    return (
        n_cal.crossJoin(F.broadcast(stats))
        .filter(F.col("q_hat").isNotNull())
        .select("n_cal", "n_test", "q_hat", "coverage_ppm")
    )
