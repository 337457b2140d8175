"""Corpus retrieval operators: BM25 ranked search over an inverted index
and RAG-style document chunking.

Reference parity note: the reference service has no text search at all —
its closest lookup is SQL template extraction (src/db/pattern_ops.py:28-65)
plus nearest-centroid matching over embeddings (src/ml/vector_engine.py);
these operators are the north-star extension a training-data / retrieval
pipeline needs — ranked lexical retrieval (the dense-retrieval complement
to operators/similarity.py) and token-window chunking (the unit RAG
indexes and context packing consume).

Scale design:
- BM25 never materializes a doc×query matrix. The term-frequency table IS
  the inverted index (posting lists keyed by token); the query set is a
  tiny literal frame broadcast onto it, so the probe is a map-side hash
  join against corpus-sized postings. Scores shuffle once on
  (query_id, doc_id) — cardinality ≤ Σ|postings(q_term)|, not |corpus|.
- Top-k per query is a window over only the scored candidates.
- Chunking is a zero-join posexplode: each doc row expands to its chunk
  rows in place; no shuffle at all unless the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T

# Deterministic demo query set for catalog/bench entries (vocabulary drawn
# from the synthetic corpus).
SEARCH_QUERIES: tuple[str, ...] = (
    "fast table scan",
    "window agg join",
    "stream batch merge",
    "customer order query",
    "vector hash group",
)

BM25_K1 = 1.2


def _bm25_term_score(tc: Column, df: Column, dl: Column, n_docs: Column, avgdl: Column) -> Column:
    """One term's BM25 contribution — written to mirror the oracle SQL
    expression tree exactly (same literal constants, same associativity) so
    both engines round identically at 6 dp."""
    idf = F.log(F.lit(1) + (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)))
    denom = tc + F.lit(BM25_K1) * (F.lit(0.25) + F.lit(0.75) * dl / avgdl)
    return idf * (tc * F.lit(2.2)) / denom


def _query_terms(spark, queries: tuple[str, ...]):
    """(query_id, tok) frame of DISTINCT terms per query — the broadcast
    probe side every ranker shares."""
    q = spark.createDataFrame(
        [(i, s) for i, s in enumerate(queries)], "query_id INT, qtext STRING"
    )
    return q.select(
        "query_id",
        F.explode(F.array_distinct(T.words(F.col("qtext")))).alias("tok"),
    )


def bm25_topk(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25 (Robertson/Lucene idf form:
    ln(1 + (N - df + .5)/(df + .5)); k1=1.2, b=0.75).

    Plan shape: corpus scanned once into (doc_id, tok) postings; per-doc tf
    and doc-length aggregate map-side; the query-term frame (a few literal
    rows) broadcasts onto the tf table, so only candidate postings survive
    to the (query_id, doc_id) score shuffle. Corpus stats (N, avgdl) ride
    along as a broadcast scalar. Ties on the 6-dp rounded score break by
    doc_id, making the ranking engine-portable.
    """
    spark = documents.sparkSession
    if tf is None:
        toks = documents.select(
            "doc_id", F.explode(T.words(F.col("text"))).alias("tok")
        )
        tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tc"))
    dl = tf.groupBy("doc_id").agg(F.sum("tc").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    qterms = _query_terms(spark, queries)

    scored = (
        tf.join(F.broadcast(qterms), "tok")
        .join(df_, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            _bm25_term_score(
                F.col("tc"), F.col("df"), F.col("dl"),
                F.col("n_docs"), F.col("avgdl"),
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_score").alias("score_raw"))
        .withColumn("score", F.round(F.col("score_raw"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def bm25_oracle_sql(queries: tuple[str, ...] = SEARCH_QUERIES, k: int = 10) -> str:
    """DuckDB twin generated from the same constants — see _bm25_term_score
    for the expression-mirroring contract."""
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(queries))
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH q AS (SELECT * FROM (VALUES {values}) AS t(query_id, qtext)),
    qterms AS (
        SELECT DISTINCT query_id, tok FROM (
            SELECT query_id,
                   unnest(list_filter(string_split(qtext, ' '), x -> x <> '')) AS tok
            FROM q
        )
    ),
    toks AS (SELECT doc_id, unnest({words_duck}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tc FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT qterms.query_id, tf.doc_id,
               round(sum(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tc * 2.2)
                   / (tc + {BM25_K1} * (0.25 + 0.75 * dl / avgdl))
               ), 6) AS score
        FROM qterms
        JOIN tf USING (tok)
        JOIN df USING (tok)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        GROUP BY 1, 2
    )
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score FROM (
        SELECT query_id, doc_id, score,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Overlapping token-window chunks (the RAG indexing unit): stride =
    chunk_tokens - overlap; the final chunk may be short; empty docs emit
    no chunks.

    Scale: pure in-row expansion — tokenize once, generate start offsets
    with sequence(), posexplode. No shuffle, no join; output partitioning
    follows the input scan, so a downstream embed/index stage streams
    straight out of the scan tasks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = documents.select(
        "doc_id", T.words(F.col("text")).alias("arr")
    ).withColumn("n", F.size("arr")).filter(F.col("n") > 0)
    starts = toks.select(
        "doc_id", "arr",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
        ).alias("start"),
    )
    chunk = F.slice(F.col("arr"), F.col("start") + 1, chunk_tokens)
    return starts.select(
        "doc_id",
        F.expr(f"CAST(start DIV {stride} AS INT)").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("start_tok"),
        F.size(chunk).cast("bigint").alias("n_toks"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def chunk_oracle_sql(
    chunk_tokens: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP
) -> str:
    stride = chunk_tokens - overlap
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH t AS (SELECT doc_id, {words_duck} AS arr FROM documents),
    s AS (SELECT doc_id, arr, len(arr) AS n FROM t WHERE len(arr) > 0),
    st AS (
        SELECT doc_id, arr, n, unnest(range(0, n, {stride})) AS start FROM s
    )
    SELECT doc_id,
           CAST(start // {stride} AS INT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(len(list_slice(arr, start + 1, start + {chunk_tokens}))
                AS BIGINT) AS n_toks,
           array_to_string(list_slice(arr, start + 1, start + {chunk_tokens}),
                           ' ') AS chunk_text
    FROM st
    """


RRF_K = 60
RRF_POOL = 50


def tfidf_cosine_topk(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = RRF_POOL,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Dense-side stand-in that stays oracle-expressible: cosine between
    the query's idf vector and each document's tf-idf vector (sparse dot
    via the token join, norms aggregated per side). Same broadcast-probe
    shape as bm25_topk; ties on the 6-dp cosine break by doc_id."""
    spark = documents.sparkSession
    if tf is None:
        toks = documents.select(
            "doc_id", F.explode(T.words(F.col("text"))).alias("tok")
        )
        tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tc"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    w_dt = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "tok",
            (F.col("tc") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    dnorm = w_dt.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm")
    )
    qterms = _query_terms(spark, queries)
    qw = (
        qterms.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "query_id", "tok",
            F.log(F.col("n_docs") / F.col("df")).alias("qw"),
        )
    )
    qnorm = qw.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qnorm")
    )
    dot = (
        w_dt.join(F.broadcast(qw), "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    scored = (
        dot.join(dnorm, "doc_id")
        .join(F.broadcast(qnorm), "query_id")
        .withColumn(
            "cos", F.round(F.col("dot") / (F.col("dnorm") * F.col("qnorm")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", F.col("cos").alias("score"))
    )


def hybrid_search_rrf(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    pool: int = RRF_POOL,
    k_rrf: int = RRF_K,
) -> DataFrame:
    """Two-stage hybrid retrieval with Reciprocal Rank Fusion (the
    standard lexical+dense fusion): union the BM25 and cosine top-``pool``
    candidate sets, score each doc Σ 1/(k_rrf + rank_r) over the rankings
    it appears in, return the fused top-k.

    Scale: both rankings share the broadcast-probe-then-window shape; the
    fusion itself is a full outer join on (query_id, doc_id) over two
    |queries|×pool frames — constant-size, independent of corpus."""
    # tokenize the corpus once for both rankers (tf is the shared
    # inverted index). Deliberately NOT persisted: the measured A/B at
    # sf0.1 (2.1s lazy vs 3.9s cached, warm) shows the cache write of
    # the doc×tok frame costs more than recomputing it — the
    # bigram_logprob negative result again; AQE partially reuses the
    # exchange anyway
    toks = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tc")
    )
    a = bm25_topk(documents, queries, k=pool, tf=tf).select(
        "query_id", "doc_id", F.col("rank").alias("rank_a")
    )
    b = tfidf_cosine_topk(documents, queries, k=pool, tf=tf).select(
        "query_id", "doc_id", F.col("rank").alias("rank_b")
    )
    fused = (
        a.join(b, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_b")), F.lit(0.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", F.col("rrf").alias("score"))
    )


def hybrid_rrf_oracle_sql(
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    pool: int = RRF_POOL,
    k_rrf: int = RRF_K,
) -> str:
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(queries))
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH q AS (SELECT * FROM (VALUES {values}) AS t(query_id, qtext)),
    qterms AS (
        SELECT DISTINCT query_id, tok FROM (
            SELECT query_id,
                   unnest(list_filter(string_split(qtext, ' '), x -> x <> '')) AS tok
            FROM q
        )
    ),
    toks AS (SELECT doc_id, unnest({words_duck}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tc FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    ndocs AS (SELECT count(*) AS n_docs FROM documents),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    bm AS (
        SELECT qterms.query_id, tf.doc_id,
               round(sum(
                   ln(1 + (stats.n_docs - df + 0.5) / (df + 0.5))
                   * (tc * 2.2)
                   / (tc + {BM25_K1} * (0.25 + 0.75 * dl / avgdl))
               ), 6) AS score
        FROM qterms
        JOIN tf USING (tok)
        JOIN df USING (tok)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        GROUP BY 1, 2
    ),
    ra AS (
        SELECT query_id, doc_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rank_a
        FROM bm QUALIFY rank_a <= {pool}
    ),
    wdt AS (
        SELECT doc_id, tok, tc * ln(n_docs * 1.0 / df) AS w
        FROM tf JOIN df USING (tok) CROSS JOIN ndocs
    ),
    dnorm AS (SELECT doc_id, sqrt(sum(w * w)) AS dnorm FROM wdt GROUP BY 1),
    qw AS (
        SELECT query_id, tok, ln(n_docs * 1.0 / df) AS qw
        FROM qterms JOIN df USING (tok) CROSS JOIN ndocs
    ),
    qnorm AS (SELECT query_id, sqrt(sum(qw * qw)) AS qnorm FROM qw GROUP BY 1),
    dots AS (
        SELECT qw.query_id, wdt.doc_id, sum(w * qw) AS dot
        FROM wdt JOIN qw USING (tok) GROUP BY 1, 2
    ),
    cosr AS (
        SELECT d.query_id, d.doc_id,
               round(dot / (dnorm.dnorm * qnorm.qnorm), 6) AS cos
        FROM dots d
        JOIN dnorm ON d.doc_id = dnorm.doc_id
        JOIN qnorm ON d.query_id = qnorm.query_id
    ),
    rb AS (
        SELECT query_id, doc_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, doc_id
               ) AS rank_b
        FROM cosr QUALIFY rank_b <= {pool}
    ),
    fused AS (
        SELECT coalesce(ra.query_id, rb.query_id) AS query_id,
               coalesce(ra.doc_id, rb.doc_id) AS doc_id,
               round(coalesce(1.0 / ({k_rrf} + rank_a), 0.0)
                     + coalesce(1.0 / ({k_rrf} + rank_b), 0.0), 6) AS rrf
        FROM ra FULL OUTER JOIN rb
          ON ra.query_id = rb.query_id AND ra.doc_id = rb.doc_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf AS score FROM (
        SELECT query_id, doc_id, rrf,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY rrf DESC, doc_id
               ) AS rank
        FROM fused
    ) WHERE rank <= {k}
    """


def rag_chunk_search(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 3,
) -> DataFrame:
    """The RAG retrieval stage end-to-end: chunk the corpus into token
    windows, rank CHUNKS (not documents) with BM25, return the top-k
    context chunks per query with their provenance (doc_id, chunk_idx).

    Chunk identity rides through the ranker as doc_id*1024 + chunk_idx.
    A document long enough to exceed 1024 chunks would silently alias
    into another document's id space, so the packing is guarded in-row:
    chunk_idx >= 1024 raises at execution (no extra job — the check
    rides the projection). Plan shape is chunking's zero-shuffle
    expansion feeding bm25's broadcast-probe pipeline — no extra
    exchanges beyond bm25's own."""
    packed = F.when(
        F.col("chunk_idx") < 1024, F.col("doc_id") * 1024 + F.col("chunk_idx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("rag_chunk_search: chunk_idx "),
                F.col("chunk_idx").cast("string"),
                F.lit(" >= 1024 for doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(" — packed chunk id would alias; widen the packing "
                      "multiplier or chunk with a larger window"),
            )
        )
    )
    chunks = chunk_documents(documents).select(
        packed.cast("long").alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    hits = bm25_topk(chunks, queries, k=k)
    return hits.select(
        "query_id",
        "rank",
        F.expr("CAST(doc_id DIV 1024 AS BIGINT)").alias("doc_id"),
        F.expr("CAST(doc_id % 1024 AS INT)").alias("chunk_idx"),
        "score",
    )


def rag_chunk_search_oracle_sql(
    queries: tuple[str, ...] = SEARCH_QUERIES, k: int = 3
) -> str:
    """Compose the chunk oracle into the BM25 oracle: the chunk table CTE
    replaces the documents scan (single textual seam, asserted)."""
    chunk_sql = chunk_oracle_sql().strip()
    bm25 = bm25_oracle_sql(queries, k=k)
    assert bm25.count("FROM documents") == 1
    bm25 = bm25.replace("FROM documents", "FROM chunks")
    prefix = f"""
    WITH chunk_rows AS ({chunk_sql}),
    chunks AS (
        SELECT doc_id * 1024 + chunk_idx AS doc_id, chunk_text AS text
        FROM chunk_rows
    ),"""
    assert bm25.lstrip().startswith("WITH ")
    body = bm25.lstrip()[len("WITH "):]
    composed = prefix + body
    return f"""
    SELECT query_id, rank, CAST(doc_id // 1024 AS BIGINT) AS doc_id,
           CAST(doc_id % 1024 AS INT) AS chunk_idx, score
    FROM ({composed})
    """


def phrase_match_docs(documents: DataFrame, phrase: str) -> DataFrame:
    """Exact phrase search via POSITIONAL postings: explode (doc_id, tok,
    pos), probe each phrase term's posting list, and join consecutive
    terms on (doc_id, pos+offset) — the positional-index query plan every
    search engine runs, instead of scanning text with contains().

    Scale: the corpus reduces to posting rows ONCE; each phrase term
    keeps only its own postings (a tiny broadcast filter), so the
    adjacency join chain touches Σ|postings(term)| rows, never the
    corpus text. Returns (doc_id, n_hits) for docs containing the
    phrase, with the number of distinct start positions.
    """
    terms = [t for t in phrase.split(" ") if t]
    if not terms:
        raise ValueError("empty phrase")
    post = documents.select(
        "doc_id",
        F.posexplode(T.words(F.col("text"))).alias("pos", "tok"),
    )
    first = post.filter(F.col("tok") == terms[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    cur = first
    for i, t in enumerate(terms[1:], start=1):
        nxt = post.filter(F.col("tok") == t).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        cur = cur.join(nxt, ["doc_id", "p0"])
    return (
        cur.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Late-interaction (ColBERT-style maxsim) retrieval
# ---------------------------------------------------------------------------
#
# Khattab & Zaharia 2020 (ColBERT): score(q, d) = Σ_{t∈q} max_{u∈d} <e_t, e_u>
# over per-TOKEN embeddings — the retrieval family between single-vector
# dense search (operators/similarity.py) and lexical BM25. The reference
# service has no retrieval at all (see module docstring); this is the
# north-star extension's late-interaction member.
#
# Token embeddings here are the engine-portable hash featurizer (the same
# clean-room stand-in ml/embedding.py uses at doc grain, here at token
# grain): component j of token t is hash48("embv1:"+t+":"+j) mapped to
# [-1, 1), L2-normalized. Every arithmetic step is written with the SAME
# expression tree in Spark SQL and DuckDB (hash48_sql is portable; +, *,
# /, sqrt, floor are IEEE-correctly-rounded), so the oracle hash-matches
# bit-for-bit. A real model swaps in via the ml/embedding.py torch gate
# without touching the join/aggregation shape.
#
# Cross-engine float discipline: the per-(query-token, doc) MAX over dots
# is order-free; the per-doc SUM over query tokens is NOT, so each max is
# floored into integer units (1e-12 resolution) first and the sum runs
# over BIGINTs — associative, bit-identical on both engines (the
# json_shred_profile recipe).

MAXSIM_DIM = 8
# 2^47: hash48 ∈ [0, 2^48) → raw ∈ [-1, 1). Explicit DOUBLE cast: Spark
# parses a bare `140737488355328.0` literal as DECIMAL and would run the
# whole normalization in decimal arithmetic (caught by the rehearsal test).
_MAXSIM_DEN = "CAST(140737488355328 AS DOUBLE)"
_MAXSIM_SCALE = "CAST(1000000000000 AS DOUBLE)"  # integer-unit resolution for the Σ


def _maxsim_raw_sql(tok_sql: str, j: int) -> str:
    """Portable SQL for component j of the UNNORMALIZED token embedding."""
    h = T.hash48_sql(f"concat('embv1:', {tok_sql}, ':{j}')")
    return f"({h} / {_MAXSIM_DEN} - 1.0)"


def _with_unit_vec(df: DataFrame, tok_col: str) -> DataFrame:
    """Append v0..v{d-1}: the L2-normalized token embedding, computed with
    the exact expression tree the oracle SQL writes (raw components bound
    once in a projection layer, then den, then the divisions)."""
    raws = [
        F.expr(_maxsim_raw_sql(tok_col, j)).alias(f"_r{j}")
        for j in range(MAXSIM_DIM)
    ]
    df = df.select("*", *raws)
    sq = F.col("_r0") * F.col("_r0")
    for j in range(1, MAXSIM_DIM):
        sq = sq + F.col(f"_r{j}") * F.col(f"_r{j}")
    df = df.select("*", F.sqrt(sq).alias("_den0"))
    df = df.select(
        "*",
        F.when(F.col("_den0") == 0.0, F.lit(1.0))
        .otherwise(F.col("_den0"))
        .alias("_den"),
    )
    vecs = [
        (F.col(f"_r{j}") / F.col("_den")).alias(f"v{j}")
        for j in range(MAXSIM_DIM)
    ]
    keep = [c for c in df.columns if not c.startswith("_r") and c not in ("_den0", "_den")]
    return df.select(*keep, *vecs)


def maxsim_topk(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
) -> DataFrame:
    """Top-k docs per query under ColBERT maxsim over hash token
    embeddings. Distinct-token set semantics on BOTH sides (repeat tokens
    can't change a max, and repeated query tokens would double-count).

    Scale shape: doc tokens dedup IN-ROW (array_distinct, no shuffle);
    embeddings are computed once per DISTINCT corpus token and joined
    back (vocabulary-grain compute, AQE broadcasts the vocab when small);
    the query side is a literal frame broadcast onto the token stream, so
    the corpus-sized pair stream never shuffles before the partial
    (query, qtok, doc) MAX combine. One exchange on (query_id, doc_id)
    carries ≤ |queries|·|qtokens|·|docs| maxed rows, never raw pairs.

    (r14 A/B: persisting the exploded token stream for its two consumers
    measured flat-to-negative at bench scale — the cache write of the
    corpus-sized stream costs more than re-running the cheap tokenize
    projection — so the stream stays unpersisted.)"""
    spark = documents.sparkSession
    dtok = documents.select(
        "doc_id",
        F.explode(F.array_distinct(T.words(F.col("text")))).alias("tok"),
    )
    vocab = _with_unit_vec(dtok.select("tok").distinct(), "tok")
    dvec = dtok.join(vocab, "tok")
    qvec = _with_unit_vec(_query_terms(spark, queries), "tok")
    qv = F.broadcast(
        qvec.select(
            "query_id",
            F.col("tok").alias("qtok"),
            *[F.col(f"v{j}").alias(f"q{j}") for j in range(MAXSIM_DIM)],
        )
    )
    dot = F.col("q0") * F.col("v0")
    for j in range(1, MAXSIM_DIM):
        dot = dot + F.col(f"q{j}") * F.col(f"v{j}")
    best = (
        dvec.crossJoin(qv)
        .groupBy("query_id", "qtok", "doc_id")
        .agg(F.max(dot).alias("mdot"))
    )
    scored = best.groupBy("query_id", "doc_id").agg(
        F.sum(
            F.floor(F.col("mdot") * F.expr(_MAXSIM_SCALE)).cast("bigint")
        ).alias("score_units")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_units"), F.asc("doc_id")
    )
    return (
        scored.select(
            "query_id",
            F.row_number().over(w).cast("int").alias("rank"),
            "doc_id",
            (F.col("score_units").cast("double") / F.expr(_MAXSIM_SCALE)).alias(
                "score"
            ),
        )
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _maxsim_vec_ctes(src: str, keys: str, alias: str) -> str:
    """Shared CTE text: raw components bound once, then den, then the
    normalized v0..v7 — same layering as _with_unit_vec."""
    raws = ", ".join(
        f"{_maxsim_raw_sql('tok', j)} AS r{j}" for j in range(MAXSIM_DIM)
    )
    sq = " + ".join(f"r{j}*r{j}" for j in range(MAXSIM_DIM))
    vs = ", ".join(
        f"r{j} / (CASE WHEN den = 0 THEN 1.0 ELSE den END) AS v{j}"
        for j in range(MAXSIM_DIM)
    )
    return f"""
    {alias}_raw AS (SELECT {keys}, {raws} FROM {src}),
    {alias}_den AS (SELECT *, sqrt({sq}) AS den FROM {alias}_raw),
    {alias} AS (SELECT {keys}, {vs} FROM {alias}_den)
    """.strip()


def maxsim_oracle_sql(
    queries: tuple[str, ...] = SEARCH_QUERIES, k: int = 10
) -> str:
    """DuckDB twin generated from the same constants and expression
    trees; integer-unit flooring makes the qtoken sum associative so the
    value hash matches bit-for-bit."""
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(queries))
    words_duck = T.words_sql("text", "duckdb")
    dot = " + ".join(f"q.v{j}*v.v{j}" for j in range(MAXSIM_DIM))
    return f"""
    WITH q AS (SELECT * FROM (VALUES {values}) AS t(query_id, qtext)),
    qterms AS (
        SELECT DISTINCT query_id, tok FROM (
            SELECT query_id,
                   unnest(list_filter(string_split(qtext, ' '), x -> x <> '')) AS tok
            FROM q
        )
    ),
    dtok AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest({words_duck}) AS tok FROM documents
        )
    ),
    vocab AS (SELECT DISTINCT tok FROM dtok),
    {_maxsim_vec_ctes("vocab", "tok", "vvec")},
    {_maxsim_vec_ctes("qterms", "query_id, tok", "qvec")},
    best AS (
        SELECT q.query_id, q.tok AS qtok, d.doc_id,
               max({dot}) AS mdot
        FROM qvec q
        CROSS JOIN dtok d
        JOIN vvec v ON d.tok = v.tok
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT query_id, doc_id,
               CAST(sum(CAST(floor(mdot * {_MAXSIM_SCALE}) AS BIGINT)) AS BIGINT)
                   AS score_units
        FROM best GROUP BY 1, 2
    )
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
           CAST(score_units AS DOUBLE) / {_MAXSIM_SCALE} AS score
    FROM (
        SELECT query_id, doc_id, score_units,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_units DESC, doc_id
               ) AS rank
        FROM scored
    ) WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def maxsim_topk_routed(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    n_anchors: int = 32,
    n_probe: int = 8,
) -> DataFrame:
    """PLAID-shaped approximate maxsim (Santhanam et al. 2022 route
    ColBERT maxima through centroid buckets): doc tokens bucket to their
    nearest ANCHOR vector; each query token scores only the tokens in
    its ``n_probe`` nearest anchors' buckets. Anchors are the
    ``n_anchors`` most frequent corpus tokens' unit vectors —
    deterministic (count desc, token asc), no k-means iterations, and
    frequency-weighted exactly where the token mass is.

    Pinned semantics: a query token with NO candidate token in a doc
    contributes 0 to that doc's score (the exact form would contribute
    its all-token max, possibly negative); with ``n_probe == n_anchors``
    every bucket is probed, the candidate set is the full vocabulary,
    and the routed score EQUALS the exact operator bit-for-bit (pinned
    in tests — the same exactness degeneration ann_ivf is tested by).

    Scale: the anchor table is tiny and broadcast everywhere; bucket
    assignment is |vocab| × n_anchors in-row dots; the scored pair
    stream shrinks from |qtokens|·|corpus tokens| to only probed
    buckets — the IVF effect at token grain. Same integer-unit sum as
    maxsim_topk.
    """
    spark = documents.sparkSession
    # (r14 A/B: persisting dtok/freq measured NEGATIVE at bench scale —
    # cache-write overhead exceeded the recompute they saved — so both
    # stay unpersisted; the structural wins below are kept.)
    dtok = documents.select(
        "doc_id",
        F.explode(F.array_distinct(T.words(F.col("text")))).alias("tok"),
    )
    # vocab == freq's key set: one (tok) exchange serves the anchor
    # ranking AND the bucket assignment (r14, guide §2.4 — the old
    # distinct re-aggregated the same stream a second time).
    freq = dtok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    anchors = _with_unit_vec(
        freq.orderBy(F.desc("n"), F.asc("tok"))
        .limit(n_anchors)
        .select("tok"),
        "tok",
    ).select(
        F.col("tok").alias("anchor"),
        *[F.col(f"v{j}").alias(f"a{j}") for j in range(MAXSIM_DIM)],
    )

    vocab = _with_unit_vec(freq.select("tok"), "tok")
    adot = F.col("a0") * F.col("v0")
    for j in range(1, MAXSIM_DIM):
        adot = adot + F.col(f"a{j}") * F.col(f"v{j}")
    ranked = vocab.crossJoin(F.broadcast(anchors)).select(
        "tok",
        "anchor",
        adot.alias("adot"),
        *[F.col(f"v{j}") for j in range(MAXSIM_DIM)],
    )
    # nearest anchor per token: min over the TOTAL order (-adot, anchor)
    # == the old row_number window's (desc adot, asc anchor) head row,
    # but computed as a partially-aggregating min_by (guide §2.3): the
    # map side collapses the 32 anchor candidates per token before the
    # exchange, and no per-partition sort runs. anchor is unique within
    # a token group, so the ordering struct has no ties and the pick is
    # deterministic.
    pick = F.min_by(
        F.struct(
            F.col("anchor"), *[F.col(f"v{j}") for j in range(MAXSIM_DIM)]
        ),
        F.struct((-F.col("adot")).alias("na"), F.col("anchor").alias("a")),
    )
    buckets = (
        ranked.groupBy("tok")
        .agg(pick.alias("p"))
        .select(
            "tok",
            F.col("p.anchor").alias("anchor"),
            *[F.col(f"p.v{j}").alias(f"v{j}") for j in range(MAXSIM_DIM)],
        )
    )
    dvec = dtok.join(buckets, "tok")

    qvec = _with_unit_vec(_query_terms(spark, queries), "tok").select(
        "query_id",
        F.col("tok").alias("qtok"),
        *[F.col(f"v{j}").alias(f"q{j}") for j in range(MAXSIM_DIM)],
    )
    qadot = F.col("a0") * F.col("q0")
    for j in range(1, MAXSIM_DIM):
        qadot = qadot + F.col(f"a{j}") * F.col(f"q{j}")
    wq = Window.partitionBy("query_id", "qtok").orderBy(
        F.desc("qadot"), F.asc("anchor")
    )
    probes = (
        qvec.crossJoin(F.broadcast(anchors))
        .select("query_id", "qtok", "anchor", qadot.alias("qadot"),
                *[F.col(f"q{j}") for j in range(MAXSIM_DIM)])
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .drop("rn", "qadot")
    )

    dot = F.col("q0") * F.col("v0")
    for j in range(1, MAXSIM_DIM):
        dot = dot + F.col(f"q{j}") * F.col(f"v{j}")
    best = (
        dvec.join(F.broadcast(probes), "anchor")
        .groupBy("query_id", "qtok", "doc_id")
        .agg(F.max(dot).alias("mdot"))
    )
    scored = best.groupBy("query_id", "doc_id").agg(
        F.sum(
            F.floor(F.col("mdot") * F.expr(_MAXSIM_SCALE)).cast("bigint")
        ).alias("score_units")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_units"), F.asc("doc_id")
    )
    return (
        scored.select(
            "query_id",
            F.row_number().over(w).cast("int").alias("rank"),
            "doc_id",
            (F.col("score_units").cast("double") / F.expr(_MAXSIM_SCALE)).alias(
                "score"
            ),
        )
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# KWIC snippets (r8 session, r9 queue)
# ---------------------------------------------------------------------------


def kwic_snippets(
    documents: DataFrame, term: str = "table", window: int = 2
) -> DataFrame:
    """Keyword-in-context snippet extraction — the search-serving step
    after BM25/maxsim ranking: for every document, the non-overlapping
    ``±window``-word contexts around exact occurrences of ``term``.

    Output: (doc_id, n_matches, first_snippet, last_snippet) — the
    per-document summary a result page renders (n_matches counts
    NON-OVERLAPPING windows: a second occurrence inside the previous
    window is absorbed by it, identically in any leftmost-greedy regex
    engine, which keeps the DuckDB twin bit-exact).

    Scale: one JVM regex pass per row, zero shuffle, column-pruned scan
    — snippet extraction never becomes a join. The pattern uses only
    RE2-safe syntax (no lookbehind/possessives) so the same regex runs
    on Spark (java.util.regex) and DuckDB (RE2) with identical
    leftmost-greedy semantics.
    """
    import re as _re

    pat = (
        rf"(?:\S+ ){{0,{window}}}\b{_re.escape(term)}\b(?: \S+){{0,{window}}}"
    )
    l = F.regexp_extract_all(F.col("text"), F.lit(pat), 0)
    return documents.select(
        "doc_id",
        F.size(l).cast("int").alias("n_matches"),
        F.when(F.size(l) > 0, F.element_at(l, 1))
        .otherwise(F.lit(None))
        .alias("first_snippet"),
        F.when(F.size(l) > 0, F.element_at(l, -1))
        .otherwise(F.lit(None))
        .alias("last_snippet"),
    )


def kwic_oracle_sql(term: str = "table", window: int = 2) -> str:
    """DuckDB twin: same RE2-safe pattern, same non-overlapping
    leftmost-greedy extraction."""
    import re as _re

    pat = (
        rf"(?:\S+ ){{0,{window}}}\b{_re.escape(term)}\b(?: \S+){{0,{window}}}"
    )
    return f"""
    WITH m AS (
        SELECT doc_id, regexp_extract_all(text, '{pat}') AS l
        FROM documents
    )
    SELECT doc_id,
           CAST(len(l) AS INT) AS n_matches,
           CASE WHEN len(l) > 0 THEN l[1] END AS first_snippet,
           CASE WHEN len(l) > 0 THEN l[-1] END AS last_snippet
    FROM m
    ORDER BY doc_id
    """


RM3_FB_DOCS = 5
RM3_FB_TERMS = 3
RM3_LAMBDA = 0.4


def rm3_expanded_search(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    lam: float = RM3_LAMBDA,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3 recipe,
    Lavrenko & Croft 2001 / Abdul-Jaleel et al. 2004, in its
    deterministic BM25-weighted form): run BM25, take each query's top
    ``fb_docs`` documents as pseudo-relevant, extract the ``fb_terms``
    strongest non-query terms from them (weight = Σ tc/dl over the
    feedback docs — the relevance-model estimate with uniform doc
    prior; terms with df > N/2 are excluded as stopword-like), then
    re-score with the expanded term set where original terms weigh 1.0
    and expansion terms weigh ``lam``. The classic recall lever when
    queries underspecify vocabulary.

    Output: (query_id, rank, doc_id, score) — the SECOND-pass ranking.
    Deterministic end-to-end: 6-dp rounded scores with doc_id/tok
    tiebreaks at both ranking points.

    Scale: the (doc, tok) tf table is built ONCE and persisted — four
    consumers (df, dl, first-pass postings, second-pass postings) would
    each re-tokenize the corpus otherwise. Both passes join tf against
    a BROADCAST term frame (query vocabulary + ≤ fb_terms·|Q| expansion
    terms), so only candidate postings reach the (query, doc) score
    shuffle; feedback-term extraction reads only the fb_docs·|Q|
    pseudo-relevant doc rows.
    """
    spark = documents.sparkSession
    toks = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("tok")
    )
    # cache: caller-owned (repo contract — bench/driver clear per query)
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tc"))
        .persist()
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tc").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qterms = _query_terms(spark, queries)

    first = bm25_topk(documents, queries, k=fb_docs, tf=tf).select(
        "query_id", "doc_id"
    )
    # relevance-model term weights over the pseudo-relevant docs
    fb = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(first), "doc_id")
        .groupBy("query_id", "tok")
        .agg(
            F.round(
                F.sum(F.col("tc").cast("double") / F.col("dl")), 9
            ).alias("rm_w")
        )
        .join(qterms, ["query_id", "tok"], "left_anti")
        .join(df_, "tok")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("df") <= F.col("n_docs") / F.lit(2))
        .select("query_id", "tok", "rm_w")
    )
    w_fb = Window.partitionBy("query_id").orderBy(
        F.desc("rm_w"), F.col("tok")
    )
    expansion = (
        fb.withColumn("_rn", F.row_number().over(w_fb))
        .filter(F.col("_rn") <= fb_terms)
        .select("query_id", "tok", F.lit(float(lam)).alias("w"))
    )
    terms = qterms.select(
        "query_id", "tok", F.lit(1.0).alias("w")
    ).unionByName(expansion)

    scored = (
        tf.join(F.broadcast(terms), "tok")
        .join(df_, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            F.col("w")
            * _bm25_term_score(
                F.col("tc"), F.col("df"), F.col("dl"),
                F.col("n_docs"), F.col("avgdl"),
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def rm3_oracle_sql(
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    lam: float = RM3_LAMBDA,
) -> str:
    """DuckDB twin: the two BM25 passes + relevance-model extraction as
    MATERIALIZED CTEs (tf/df/dl are referenced by both passes — DuckDB
    would otherwise inline and re-tokenize per reference); identical
    constants, 9-dp feedback-weight round, 6-dp score round, identical
    tiebreaks. ``lam`` interpolates via repr() CAST AS DOUBLE."""
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(queries))
    words_duck = T.words_sql("text", "duckdb")
    lam_ = f"CAST({float(lam)!r} AS DOUBLE)"
    term_score = (
        "ln(1 + (n_docs - df + 0.5) / (df + 0.5))"
        f" * (tc * 2.2) / (tc + {BM25_K1} * (0.25 + 0.75 * dl / avgdl))"
    )
    return f"""
    WITH q AS (SELECT * FROM (VALUES {values}) AS t(query_id, qtext)),
    qterms AS MATERIALIZED (
        SELECT DISTINCT query_id, tok FROM (
            SELECT query_id,
                   unnest(list_filter(string_split(qtext, ' '), x -> x <> '')) AS tok
            FROM q
        )
    ),
    toks AS MATERIALIZED (
        SELECT doc_id, unnest({words_duck}) AS tok FROM documents
    ),
    tf AS MATERIALIZED (
        SELECT doc_id, tok, count(*) AS tc FROM toks GROUP BY 1, 2
    ),
    dl AS MATERIALIZED (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS MATERIALIZED (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    df AS MATERIALIZED (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    pass1 AS MATERIALIZED (
        SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, doc_id
                   ) AS rank
            FROM (
                SELECT qterms.query_id, tf.doc_id,
                       round(sum({term_score}), 6) AS score
                FROM qterms
                JOIN tf USING (tok)
                JOIN df USING (tok)
                JOIN dl ON tf.doc_id = dl.doc_id
                CROSS JOIN stats
                GROUP BY 1, 2
            )
        ) WHERE rank <= {fb_docs}
    ),
    fb AS MATERIALIZED (
        SELECT query_id, tok, rm_w FROM (
            SELECT p.query_id, tf.tok,
                   round(sum(CAST(tf.tc AS DOUBLE) / dl.dl), 9) AS rm_w
            FROM pass1 p
            JOIN tf ON tf.doc_id = p.doc_id
            JOIN dl ON dl.doc_id = p.doc_id
            GROUP BY 1, 2
        ) w0
        WHERE NOT EXISTS (
            SELECT 1 FROM qterms
            WHERE qterms.query_id = w0.query_id AND qterms.tok = w0.tok
        )
        AND (SELECT df FROM df WHERE df.tok = w0.tok)
            <= (SELECT n_docs FROM stats) / 2
    ),
    expansion AS MATERIALIZED (
        SELECT query_id, tok, {lam_} AS w FROM (
            SELECT query_id, tok,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY rm_w DESC, tok
                   ) AS rn
            FROM fb
        ) WHERE rn <= {fb_terms}
    ),
    terms AS MATERIALIZED (
        SELECT query_id, tok, CAST(1.0 AS DOUBLE) AS w FROM qterms
        UNION ALL
        SELECT query_id, tok, w FROM expansion
    ),
    scored AS (
        SELECT terms.query_id, tf.doc_id,
               round(sum(terms.w * ({term_score})), 6) AS score
        FROM terms
        JOIN tf USING (tok)
        JOIN df USING (tok)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        GROUP BY 1, 2
    )
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score FROM (
        SELECT query_id, doc_id, score,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


PROX_K1 = 20
PROX_W_COV = 0.5
PROX_W_PROX = 1.0


def proximity_rerank(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    k1: int = PROX_K1,
    w_cov: float = PROX_W_COV,
    w_prox: float = PROX_W_PROX,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Two-stage rerank pipeline with JOINT (query, doc) second-stage
    features — the cross-encoder serving shape: a cheap first stage
    ranks the whole corpus (BM25 bag-of-words, which never sees query
    terms TOGETHER in the doc), then an expensive joint scorer runs on
    only the k1·|Q| candidates. The deterministic joint features are
    the classic pre-neural pair (term proximity + coverage: Büttcher
    et al. 2006, Tao & Zhai 2007 — documents where the query terms
    appear NEAR each other outrank scattered mentions):

      score = bm25 + w_cov·(matched_terms / query_terms)
                   + w_prox / (1 + min_dist)

    where min_dist is the minimum token-position distance between
    occurrences of two DIFFERENT query terms (NULL when <2 distinct
    terms match — the proximity term then contributes 0). A real
    cross-encoder (torch pandas_udf over the (qtext, text) pair) slots
    in at exactly this grain — candidates only, never the corpus.

    Scale: stage 1 is bm25_topk's broadcast-probe plan; stage 2
    re-reads ONLY candidate docs (left-semi join on the ≤ k1·|Q|-row
    candidate id set, broadcast), posexplodes their tokens, and the
    hit table (candidate docs × matched query-term positions) is tiny —
    the pairwise min-distance self-join is candidate-grain, bounded by
    (positions per doc)², never corpus work.

    Output: (query_id, rank, doc_id, bm25, coverage, min_dist, score),
    top-k per query by the 6-dp-rounded joint score, doc_id tiebreak.
    """
    return proximity_rerank_with_stage1(
        documents, queries, k, k1, w_cov, w_prox, tf
    )[1]


def proximity_rerank_with_stage1(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    k1: int = PROX_K1,
    w_cov: float = PROX_W_COV,
    w_prox: float = PROX_W_PROX,
    tf: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """proximity_rerank plus its PERSISTED stage-1 frame
    (query_id, rank, doc_id, bm25 — the k1-deep BM25 ranking), so a
    caller that also needs the first-stage ranking (retrieval_eval's
    two-system comparison: bm25@k is exactly the rank ≤ k prefix of
    this frame, the top-k property of a deterministic total order)
    reuses ONE computation instead of running BM25 twice. Stage-1
    cache lifecycle is caller-owned (the repo contract): the k1·|Q|-row
    frame has four consumers here (doc-id gate, hit semi-filter,
    scored base — two of them BROADCAST, and an unpersisted broadcast
    re-executes the whole BM25 subtree per consumer: the wrapping eval
    report measured 13.2 s at sf0.1 unpersisted+double-BM25 and 6.1 s
    with this persist + the stage-1 prefix reuse)."""
    spark = documents.sparkSession
    # cache: caller-owned (see docstring); measured indifferent for
    # the plain rerank (4.5 s either way at sf0.1 — exchange reuse
    # already shares most of the subtree) and a 13 s → 6 s win for the
    # eval report's extra consumers.
    cands_ranked = bm25_topk(documents, queries, k=k1, tf=tf).select(
        "query_id", "rank", "doc_id", F.col("score").alias("bm25")
    ).persist()
    cands = cands_ranked.select("query_id", "doc_id", "bm25")
    cand_docs = cands.select("doc_id").distinct()
    tokpos = (
        documents.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .select(
            "doc_id",
            F.posexplode(T.words(F.col("text"))).alias("pos", "tok"),
        )
    )
    qterms = _query_terms(spark, queries)
    nq = qterms.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_qterms")
    )
    hits = (
        tokpos.join(F.broadcast(qterms), "tok")
        .join(F.broadcast(cands.select("query_id", "doc_id")),
              ["query_id", "doc_id"], "left_semi")
        .select("query_id", "doc_id", "tok", "pos")
    )
    cov = hits.groupBy("query_id", "doc_id").agg(
        F.count_distinct("tok").alias("n_hit")
    )
    h2 = hits.select(
        "query_id", "doc_id",
        F.col("tok").alias("tok2"), F.col("pos").alias("pos2"),
    )
    md = (
        hits.join(h2, ["query_id", "doc_id"])
        .filter(F.col("tok") < F.col("tok2"))
        .groupBy("query_id", "doc_id")
        .agg(F.min(F.abs(F.col("pos") - F.col("pos2"))).cast("int")
             .alias("min_dist"))
    )
    scored = (
        cands.join(cov, ["query_id", "doc_id"])
        .join(md, ["query_id", "doc_id"], "left")
        .join(F.broadcast(nq), "query_id")
        .select(
            "query_id", "doc_id", "bm25", "min_dist",
            F.round(
                F.col("n_hit").cast("double")
                / F.col("n_qterms").cast("double"), 6
            ).alias("coverage"),
        )
        .withColumn(
            "score",
            F.round(
                F.col("bm25")
                + F.lit(w_cov) * F.col("coverage")
                + F.coalesce(
                    F.lit(w_prox)
                    / (F.lit(1.0) + F.col("min_dist").cast("double")),
                    F.lit(0.0),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    reranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id", "bm25", "coverage",
            "min_dist", "score",
        )
    )
    return cands_ranked, reranked


def proximity_rerank_oracle_sql(
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
    k1: int = PROX_K1,
    w_cov: float = PROX_W_COV,
    w_prox: float = PROX_W_PROX,
) -> str:
    """DuckDB twin: stage 1 is the bm25 oracle verbatim as a subquery;
    positions via LATERAL generate_series (0-based to match
    posexplode); identical rounding and left-assoc score sum."""
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(queries))
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH cand AS MATERIALIZED (
        SELECT query_id, doc_id, score AS bm25
        FROM ({bm25_oracle_sql(queries, k1)})
    ),
    q AS (SELECT * FROM (VALUES {values}) AS t(query_id, qtext)),
    qterms AS (
        SELECT DISTINCT query_id, tok FROM (
            SELECT query_id,
                   unnest(list_filter(string_split(qtext, ' '),
                          x -> x <> '')) AS tok
            FROM q
        )
    ),
    nq AS (SELECT query_id, count(*) AS n_qterms FROM qterms GROUP BY 1),
    t AS (
        SELECT doc_id, {words_duck} AS arr FROM documents
        WHERE doc_id IN (SELECT doc_id FROM cand)
    ),
    tokpos AS (
        SELECT doc_id, CAST(i AS INT) - 1 AS pos, arr[CAST(i AS INT)] AS tok
        FROM t, LATERAL (
            SELECT unnest(generate_series(1, len(arr))) AS i)
    ),
    hits AS MATERIALIZED (
        SELECT c.query_id, c.doc_id, p.tok, p.pos
        FROM cand c
        JOIN qterms qt ON c.query_id = qt.query_id
        JOIN tokpos p ON p.doc_id = c.doc_id AND p.tok = qt.tok
    ),
    cov AS (
        SELECT query_id, doc_id, count(DISTINCT tok) AS n_hit
        FROM hits GROUP BY 1, 2
    ),
    md AS (
        SELECT a.query_id, a.doc_id,
               CAST(min(abs(a.pos - b.pos)) AS INT) AS min_dist
        FROM hits a JOIN hits b
          ON a.query_id = b.query_id AND a.doc_id = b.doc_id
         AND a.tok < b.tok
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.query_id, c.doc_id, c.bm25, md.min_dist,
               round(CAST(cov.n_hit AS DOUBLE)
                     / CAST(nq.n_qterms AS DOUBLE), 6) AS coverage,
               round(c.bm25
                     + {w_cov!r} * round(CAST(cov.n_hit AS DOUBLE)
                           / CAST(nq.n_qterms AS DOUBLE), 6)
                     + coalesce({w_prox!r}
                           / (1.0 + CAST(md.min_dist AS DOUBLE)), 0.0),
                     6) AS score
        FROM cand c
        JOIN cov ON c.query_id = cov.query_id AND c.doc_id = cov.doc_id
        LEFT JOIN md ON c.query_id = md.query_id AND c.doc_id = md.doc_id
        JOIN nq ON c.query_id = nq.query_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, bm25, coverage,
           min_dist, score
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


def retrieval_eval_report(
    documents: DataFrame,
    queries: tuple[str, ...] = SEARCH_QUERIES,
    k: int = 10,
) -> DataFrame:
    """IR-effectiveness report: recall@k, MRR and binary nDCG@k for
    BOTH ranking stages (BM25 and the proximity rerank) against
    deterministic pseudo-qrels — a document is relevant to a query iff
    it contains the query PHRASE verbatim (instr > 0). The
    measure-don't-guess audit for the ranking stack (the
    lsh_quality_report discipline applied to retrieval): phrase
    containment is exactly the signal bag-of-words BM25 can miss and
    the proximity stage is built to recover, so the report quantifies
    the second stage's win instead of asserting it.

    Output, (system, query_id) grain (2·|Q| rows): (system, query_id,
    n_rel, rel_at_k, recall_at_k, mrr, ndcg). Zero-relevant queries:
    recall/ndcg NULL on BOTH engines (the forecast_backtest guard
    discipline), mrr 0.0 by convention when no relevant doc is
    retrieved.

    Scale: the qrel pass is ONE corpus scan with the literal query
    frame broadcast (in-row instr, no shuffle before the query-grain
    count); the (doc, tok) tf table is built ONCE, persisted, and
    threaded through BOTH rankers (bm25 directly and the rerank's
    internal first stage), so the corpus is tokenized once, not three
    times; the metric joins are all at (system, query, rank) grain —
    ≤ 2·k·|Q| rows. DCG/IDCG are ≤ k-term double sums rounded 6 dp on
    both engines (the hybrid_search_rrf precedent for
    order-robustness). tf cache lifecycle is caller-owned (the repo
    contract — bench/driver clearCache per query).
    """
    spark = documents.sparkSession
    toks = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("tok")
    )
    # cache: caller-owned (see docstring) — two ranking consumers
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tc")
    ).persist()
    q = spark.createDataFrame(
        [(i, s) for i, s in enumerate(queries)], "query_id INT, qtext STRING"
    )
    # cache: caller-owned (repo contract) — two consumers (the
    # query-grain n_rel count and the ranked-hits join)
    rel = (
        documents.crossJoin(F.broadcast(q))
        .filter(F.instr(F.col("text"), F.col("qtext")) > 0)
        .select("query_id", "doc_id")
        .persist()
    )
    n_rel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel")
    )
    stage1, reranked = proximity_rerank_with_stage1(
        documents, queries, k=k, tf=tf
    )
    ranked = (
        # bm25@k == the rank ≤ k prefix of the persisted k1-deep
        # stage-1 ranking (deterministic total order) — no second BM25
        stage1.filter(F.col("rank") <= k)
        .select(F.lit("bm25").alias("system"), "query_id", "rank", "doc_id")
        .unionByName(
            reranked.select(
                F.lit("prox").alias("system"), "query_id", "rank", "doc_id"
            )
        )
    )
    hits = ranked.join(
        rel.withColumn("rel", F.lit(1)), ["query_id", "doc_id"], "left"
    )
    per = hits.groupBy("system", "query_id").agg(
        F.sum(F.coalesce("rel", F.lit(0))).cast("bigint").alias("rel_at_k"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("_frr"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.lit(1.0) / F.log2(F.col("rank").cast("double") + 1.0),
            ).otherwise(F.lit(0.0))
        ).alias("_dcg"),
    )
    idcg = F.expr(
        f"aggregate(sequence(1, least(n_rel, {k})), cast(0 as double), "
        "(a, i) -> a + 1.0/log2(cast(i as double) + 1.0))"
    )
    return (
        per.join(n_rel, "query_id", "left")
        .withColumn("n_rel", F.coalesce("n_rel", F.lit(0)).cast("bigint"))
        .select(
            "system",
            "query_id",
            "n_rel",
            "rel_at_k",
            F.when(
                F.col("n_rel") > 0,
                F.round(
                    F.col("rel_at_k").cast("double")
                    / F.col("n_rel").cast("double"),
                    6,
                ),
            ).alias("recall_at_k"),
            F.when(
                F.col("_frr").isNotNull(),
                F.round(F.lit(1.0) / F.col("_frr").cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("mrr"),
            F.when(
                F.col("n_rel") > 0, F.round(F.col("_dcg") / idcg, 6)
            ).alias("ndcg"),
        )
        .orderBy("system", "query_id")
    )


def retrieval_eval_oracle_sql(
    queries: tuple[str, ...] = SEARCH_QUERIES, k: int = 10
) -> str:
    """DuckDB twin: both system oracles verbatim as subqueries, the
    same instr() pseudo-qrels, the same NULL guards, and IDCG as a
    correlated generate_series sum."""
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(queries))
    return f"""
    WITH q AS (SELECT * FROM (VALUES {values}) AS t(query_id, qtext)),
    rel AS MATERIALIZED (
        SELECT query_id, doc_id
        FROM documents, q WHERE instr(text, qtext) > 0
    ),
    nrel AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        FROM rel GROUP BY 1
    ),
    ranked AS MATERIALIZED (
        SELECT 'bm25' AS system, query_id, rank, doc_id
        FROM ({bm25_oracle_sql(queries, k)})
        UNION ALL
        SELECT 'prox' AS system, query_id, rank, doc_id
        FROM ({proximity_rerank_oracle_sql(queries, k)})
    ),
    hits AS (
        SELECT s.system, s.query_id, s.rank,
               CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        FROM ranked s LEFT JOIN rel r
          ON s.query_id = r.query_id AND s.doc_id = r.doc_id
    ),
    per AS (
        SELECT system, query_id,
               CAST(sum(rel) AS BIGINT) AS rel_at_k,
               min(CASE WHEN rel = 1 THEN rank END) AS frr,
               sum(CASE WHEN rel = 1
                        THEN 1.0 / log2(CAST(rank AS DOUBLE) + 1.0)
                        ELSE 0.0 END) AS dcg
        FROM hits GROUP BY 1, 2
    ),
    j AS (
        SELECT p.system, p.query_id, coalesce(n.n_rel, 0) AS n_rel,
               p.rel_at_k, p.frr, p.dcg
        FROM per p LEFT JOIN nrel n ON p.query_id = n.query_id
    )
    SELECT system, query_id, n_rel, rel_at_k,
           CASE WHEN n_rel > 0
                THEN round(CAST(rel_at_k AS DOUBLE)
                           / CAST(n_rel AS DOUBLE), 6)
           END AS recall_at_k,
           CASE WHEN frr IS NOT NULL
                THEN round(1.0 / CAST(frr AS DOUBLE), 6)
                ELSE 0.0 END AS mrr,
           CASE WHEN n_rel > 0
                THEN round(dcg / (
                    SELECT sum(1.0 / log2(CAST(i AS DOUBLE) + 1.0))
                    FROM unnest(generate_series(1, least(n_rel, {k})))
                        AS t(i)), 6)
           END AS ndcg
    FROM j
    ORDER BY system, query_id
    """


# ---------------------------------------------------------------------------
# Incremental BM25: posting-list maintenance over the txlog
# (r12 queue rehearsal — the batch-incremental complement of
# streaming_bm25_twin; reference tie: run_incremental_batch.py:29-41's
# watermark-incremental batch discipline applied to the search index)
# ---------------------------------------------------------------------------


def doc_tf(documents: DataFrame) -> DataFrame:
    """(doc_id, tok, tc) term-frequency postings — the unit of
    incremental index maintenance. One corpus scan, map-side combine to
    posting grain; this is exactly the ``tf`` frame :func:`bm25_topk`
    accepts pre-built."""
    return (
        documents.select(
            "doc_id", F.explode(T.words(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tc"))
    )


def bm25_incremental_index(
    base_docs: DataFrame, delta_docs: DataFrame, table_dir: str
) -> DataFrame:
    """Maintain a BM25 posting registry INCREMENTALLY over the txlog:
    commit the base corpus's postings as v0, then commit ONLY the delta
    docs' postings as an APPEND (v1) — merge-on-read: the snapshot's
    file list is the union of both commits, so readers see the merged
    posting table without rewriting the base postings. Returns the
    merged registry read at the latest version.

    Global statistics (df, dl, N, avgdl) are NOT stored — bm25_topk
    derives them from the posting frame, so they are automatically
    correct after every merge (stored stats are the classic staleness
    bug in incremental indexes; deriving them trades a map-side
    re-aggregate, tiny at posting grain, for correctness by
    construction).

    Scope: append-only deltas (new documents). Updates/deletes would
    append doc-grain tombstones and anti-join them at read — the
    txlog CDF machinery (operators/txlog.py snapshot_diff) provides the
    change feed; out of scope for this operator.

    Scale: each commit writes only its own postings (delta cost is
    O(|delta docs|), never O(|corpus|) — the entire point); the read is
    a plain multi-file parquet scan, so predicate pushdown on ``tok``
    still reaches every file. At 100 TB the registry is the inverted
    index as a table: re-ranking after a daily crawl appends one
    posting delta instead of re-tokenizing the corpus.
    """
    from . import txlog as TX

    TX.commit(table_dir, doc_tf(base_docs), mode="overwrite")
    TX.commit(table_dir, doc_tf(delta_docs), mode="append")
    return TX.read_snapshot(base_docs.sparkSession, table_dir)


def bm25_incremental_delete(
    base_docs: DataFrame, delete_ids: DataFrame, table_dir: str
) -> DataFrame:
    """DELETE path of the incremental posting registry — the edge
    :func:`bm25_incremental_index` declares out of scope, closed: v0
    commits the base postings, v1 APPENDS doc-grain tombstones
    (``txlog.tombstones``: one row per deleted doc, ``tc = -1``, which
    cannot collide with real term counts ≥ 1), and the merged read
    (``txlog.live_rows``) drops every tombstoned document's postings
    with one anti-join. Returns the
    LIVE posting frame; feed it to ``bm25_topk(tf=...)``.

    Because bm25_topk derives every global statistic (N, avgdl, df)
    from the posting frame it is given, deletion-aware ranking is
    correct BY CONSTRUCTION: a deleted doc leaves the idf denominator
    and the N/avgdl scalars the moment the anti-join removes its rows
    — the staleness class that breaks stored-stats indexes. An UPDATE
    is the composition delete + append (tombstone at v1, fresh
    postings at v2); the add/update/delete triangle is then complete.

    Scale: the tombstone commit is O(|deletes|) rows; the anti-join
    keys are doc_id longs against a broadcast-sized delete set in any
    realistic daily-churn ratio (Spark broadcasts it under AQE when
    small, shuffles on the 8-byte key when not). Compaction — folding
    tombstones into a rewritten base at some churn threshold — is
    ``txlog.rewrite_snapshot`` with ``live_rows`` as the fold, not the
    read path's job.
    """
    from . import txlog as TX

    postings = doc_tf(base_docs)
    TX.commit(table_dir, postings, mode="overwrite")
    TX.commit(
        table_dir,
        TX.tombstones(delete_ids, postings, "doc_id", "tc"),
        mode="append",
    )
    merged = TX.read_snapshot(base_docs.sparkSession, table_dir)
    return TX.live_rows(merged, "doc_id", "tc")
