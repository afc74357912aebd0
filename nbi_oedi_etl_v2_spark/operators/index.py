"""Full-text retrieval primitives over the documents table: inverted
index construction and BM25 ranking.

A training-data pipeline needs retrieval for decontamination audits,
targeted corpus slicing ("all docs matching these probe terms"), and
quality triage; building the index IS a large-scale aggregation
problem, so it belongs to the engine.

Tokenization is the shared word tokenizer
(``regexp_extract_all(lower(text), '[a-z0-9]+')``) — identical
expression on the DuckDB oracle side (operators/text.py convention).

Scale shape:
- ``inverted_index``: two hash aggregates — (token, doc) term
  frequencies, then per-token posting assembly. Per-group state is one
  token's posting list. Postings serialize as a sorted "doc:tf" string so the
  result is one scalar column per token — engine-comparable and
  columnar-friendly.
- ``bm25_topk``: the query term list is a literal (broadcast by
  construction); the corpus is scanned once for (doc, qterm) term
  frequencies, joined to a #query-terms-row idf table (broadcast) and
  a per-doc length table (one aggregate over the same scan), then one
  global top-k (TakeOrdered — no global sort). Shuffles are O(docs
  containing a query term), never O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import _tokens


def _token_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, tok) occurrence rows, whole-stage codegen."""
    return df.select(
        F.col(f"`{id_col}`").alias("doc"),
        F.explode(F.expr(_tokens(text_col))).alias("tok"),
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(token, doc_freq, total_tf, postings) — postings is the
    df-sorted posting list serialized as ``"doc:tf doc:tf ..."``.
    Two map-side-combined hash aggregates.
    """
    tf = (
        _token_rows(df, id_col, text_col)
        .groupBy("tok", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idx = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc", "tf"))),
                lambda x: F.concat_ws(
                    ":", x["doc"].cast("string"), x["tf"].cast("string")
                ),
            ),
            " ",
        ).alias("postings"),
    )
    return idx.select("tok", "doc_freq", "total_tf", "postings")


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25
    (Robertson/Sparck Jones, the Okapi formulation with the +1 idf
    floor): score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), with the usual
    k1 = 1.2 and b = 0.75.

    Engine-portability note: ln() is the one transcendental in the
    tree; glibc and the JVM agree to ≤1 ulp, so the score is rounded
    to 5 decimals — a divergence would need a true value within 1e-15
    of a rounding boundary. Ranking ties break on doc id.

    Plan (final-plan audited r10): the corpus is tokenized TWICE —
    once unfiltered for the doc-length normalizer, once under the
    pushed-down query-term filter for tf — and that is deliberate:
    folding doclen out of an unfiltered (doc, tok) aggregate would
    replace the second map-side tokenize (CPU-only, combines to
    |docs| rows before any exchange) with a corpus-sized token
    shuffle. df-per-term and the global stats join back broadcast
    (both bounded: |query| rows and one row).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    k1, b = 1.2, 0.75
    toks = _token_rows(df, id_col, text_col)
    # per-doc length over the FULL corpus (BM25's normalizer), one agg
    doclen = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    qt = [t.lower() for t in query_terms]
    tf = (
        toks.where(F.col("tok").isin(qt))
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(dft), "tok")
        .join(doclen, "doc")
        .join(F.broadcast(stats))
        .withColumn("avgdl", F.col("total_len").cast("double") / F.col("n_docs"))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc")
        .agg(F.round(F.sum("term_score"), 5).alias("bm25"))
    )
    return (
        scored.orderBy(F.col("bm25").desc(), F.col("doc"))
        .limit(k)
        .select(F.col("doc").alias(id_col), "bm25")
    )


def bm25_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
) -> str:
    """DuckDB mirror of ``bm25_topk`` (same tokenizer, same
    arithmetic tree, same 5-decimal rounding)."""
    terms = ", ".join(f"'{t.lower()}'" for t in query_terms)
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc, unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS tok
      FROM {table}
    ),
    doclen AS (SELECT doc, count(*) AS dl FROM toks GROUP BY doc),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM doclen),
    tf AS (
      SELECT doc, tok, count(*) AS tf FROM toks
      WHERE tok IN ({terms}) GROUP BY doc, tok
    ),
    dft AS (SELECT tok, count(*) AS df_t FROM tf GROUP BY tok)
    SELECT doc AS {id_col}, round(sum(
      ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(total_len AS DOUBLE) / n_docs)))
    ), 5) AS bm25
    FROM tf JOIN dft USING (tok) JOIN doclen USING (doc) CROSS JOIN stats
    GROUP BY doc
    ORDER BY bm25 DESC, doc
    LIMIT {k}
    """


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher) of N ranked
    retrieval lists — the standard hybrid-search combiner for a
    lexical (BM25) and a dense (embedding-cosine) ranking:
    rrf(d) = Σ_lists 1/(c + rank_list(d)), absent-from-list terms
    contribute nothing.

    Shape: UNION of the (id, rank) lists then ONE hash aggregate —
    no N-way outer join, so the plan is list-length-linear and the
    shuffle carries only the (typically top-k-bounded) ranked lists,
    never the corpus. Final top-k orders by the ROUNDED score (7dp)
    with the id tie-break so the cut is engine-deterministic.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    parts = [
        r.select(
            F.col(f"`{id_col}`").alias("_id"),
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank").cast("double"))).alias(
                "contrib"
            ),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    fused = u.groupBy("_id").agg(
        F.round(F.sum("contrib"), 7).alias("rrf"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("_id"))
        .limit(k)
        .select(F.col("_id").alias(id_col), "rrf", "n_lists")
    )


def nb_token_logodds(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    alpha: float = 1.0,
    k: int = 50,
) -> DataFrame:
    """Multinomial Naive-Bayes training pass: per-token class counts
    and the Laplace-smoothed log-odds
    ln((n_pos+α)/(T_pos+αV)) − ln((n_neg+α)/(T_neg+αV)) — the
    classical cheap text classifier (and the feature-attribution
    readout: the top-k tokens returned are the strongest positive
    discriminators).

    ONE tokenize scan → ONE (token) hash aggregate with map-side
    combine; class totals and the vocabulary size V reduce from the
    vocab-sized table, never the corpus, and broadcast back. All
    inputs to the two ln() are exact integer counts (the BM25
    transcendental argument: ≤1 ulp engine skew, 5dp round), and the
    top-k cut orders by the ROUNDED score with the token tie-break.
    ``label_col`` must be 0/1 int; ties at the cut are deterministic.
    """
    toks = _token_rows(df, id_col, text_col).join(
        df.select(
            F.col(f"`{id_col}`").alias("doc"),
            F.col(f"`{label_col}`").alias("_y"),
        ),
        "doc",
    )
    per_tok = toks.groupBy("tok").agg(
        F.sum("_y").cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_y")).cast("bigint").alias("n_neg"),
    )
    totals = per_tok.agg(
        F.sum("n_pos").cast("bigint").alias("t_pos"),
        F.sum("n_neg").cast("bigint").alias("t_neg"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    scored = per_tok.join(F.broadcast(totals)).select(
        "tok",
        "n_pos",
        "n_neg",
        F.round(
            F.log(
                (F.col("n_pos") + alpha)
                / (F.col("t_pos") + alpha * F.col("v"))
            )
            - F.log(
                (F.col("n_neg") + alpha)
                / (F.col("t_neg") + alpha * F.col("v"))
            ),
            5,
        ).alias("log_odds"),
    )
    return scored.orderBy(F.col("log_odds").desc(), F.col("tok")).limit(k)


def nb_token_logodds_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    label_expr: str,
    alpha: float = 1.0,
    k: int = 50,
) -> str:
    """DuckDB twin of :func:`nb_token_logodds` (same tokenizer, same
    smoothing arithmetic, same 5dp round and tie-break)."""
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc,
             unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS tok
      FROM {table}
    ),
    lab AS (SELECT {id_col} AS doc, {label_expr} AS y FROM {table}),
    pt AS (
      SELECT tok,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(1 - y) AS BIGINT) AS n_neg
      FROM toks JOIN lab USING (doc) GROUP BY tok
    ),
    tot AS (
      SELECT CAST(sum(n_pos) AS BIGINT) AS t_pos,
             CAST(sum(n_neg) AS BIGINT) AS t_neg,
             CAST(count(*) AS BIGINT) AS v
      FROM pt
    )
    SELECT tok, n_pos, n_neg,
           round(ln((n_pos + {alpha}) / (t_pos + {alpha} * v))
                 - ln((n_neg + {alpha}) / (t_neg + {alpha} * v)), 5)
             AS log_odds
    FROM pt, tot
    ORDER BY log_odds DESC, tok
    LIMIT {k}
    """
