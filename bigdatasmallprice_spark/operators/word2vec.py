"""word2vec on text: the SGNS trainer applied to token co-occurrence.

operators/sgns.py fits skip-gram-with-negative-sampling over a
(center, context, cnt) pair corpus; this module feeds it the corpus
word2vec was born on — token windows over documents (Mikolov et al.
2013). sgns_training_pairs / sgns_fit never cared what a "node" is,
and string word keys ride through every expression (the md5 keys CAST
to VARCHAR, the negative draw lands on the ranked vocabulary index).
The oracle composes the same way: a token-window prefix producing
``sgp(center, context, cnt)`` + ``nodes(node)`` in front of
o_sgns_core_sql's corpus-independent GD chain.

Pair corpus: symmetric skip-gram windows of width SKIPGRAM_WINDOW
over the NON-EMPTY token positions of each document (the langid
tokenization), harvested PER ROW with array higher-order functions
(flatten/transform/filter over the token array — see
word_skipgram_pairs): each task windows its own documents with zero
shuffle; the only exchange is the final (center, context) count.
Vocabulary = distinct tokens.

Scale: the model state is a DataFrame (word, dim, u, v); the
vocabulary table is sgns.py's node table. Per GD
iteration the cost is the same two broadcast joins + one word-keyed
aggregate (sgns.py's plan notes apply verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatasmallprice_spark.operators.sgns import (
    NEG_PER_POS,
    SGNS_ITERS,
    o_sgns_core_sql,
)

SKIPGRAM_WINDOW = 2  # tokens either side of the center
# non-empty whitespace tokens — the house tokenization (langid.py)
_SPARK_TOKS = "filter(split(text, ' '), w -> w <> '')"
_DUCK_TOKS = "list_filter(string_split(text, ' '), w -> w <> '')"


def word_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, wd): 1-based token positions per document."""
    return docs.selectExpr(
        "doc_id", f"posexplode({_SPARK_TOKS}) AS (pos0, wd)"
    ).selectExpr("doc_id", "pos0 + 1 AS pos", "wd")


def word_skipgram_pairs(
    docs: DataFrame, window: int = SKIPGRAM_WINDOW
) -> DataFrame:
    """(center, context, cnt): symmetric token-window co-occurrence
    counts — the word2vec positive-pair corpus.

    Harvested per document with ARRAY higher-order functions (one
    map-side flatten over each doc's token array), not the position
    self-join the oracle keeps: windows never cross documents, so the
    pairs are a per-row computation and the only shuffle left is the
    final (center, context) count aggregate — the self-join shape paid
    two corpus-scale position exchanges for the same rows (guide §2.4:
    remove shuffles outright). Pair multiset identical by construction
    (every ordered in-window pair with i != j, both verified equal)."""
    t = docs.selectExpr(f"{_SPARK_TOKS} AS t")
    pair_expr = f"""
    flatten(transform(t, (x, i) -> transform(
      filter(sequence(greatest(0, i - {window}),
                      least(size(t) - 1, i + {window})),
             j -> j != i),
      j -> struct(x AS center, t[j] AS context))))
    """
    return (
        t.selectExpr(f"explode({pair_expr}) AS p")
        .select("p.center", "p.context")
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def vocab_nodes(docs: DataFrame) -> DataFrame:
    """(node): the distinct-token vocabulary."""
    return docs.selectExpr(f"explode({_SPARK_TOKS}) AS node").distinct()


def doc_embeddings(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """(doc_id, xu array<long>): MEAN-POOLED document embeddings from
    the trained token INPUT vectors — the standard bag-of-vectors
    document representation (word2vec-mean; Mikolov 2013 §4 uses the
    input matrix as *the* word vectors). Pooling is over token
    OCCURRENCES (each repeat counts), per (doc_id, dim) one exact
    BIGINT sum with the house round-half-away integer division, so the
    pooled vector stays in integer micro-units and the DuckDB oracle
    replays it bit-for-bit (o_doc_embeddings_sql).

    This is the bridge the similarity family needed: everything in
    operators/similarity.py consumes (id, xu) integer micro-unit
    vectors, so pooled TEXT vectors drop straight into k-means /
    SemDeDup / brute-force top-k with no new machinery.

    Scale: one (wd) equi-join against the vocabulary-sized embedding
    table (broadcast-able until the vocabulary outgrows executors, then
    a plain shuffle join — both correct), one (doc_id, dim) aggregate,
    one (doc_id) array re-assembly. Token positions never pair with
    each other here — cost is linear in corpus tokens. Documents with
    ZERO tokens have no positions and therefore no row (both engines
    drop them identically).

    ``emb`` is the (word, dim, u_micro, ...) frame word_embedding_train
    produces (extra columns ignored)."""
    from bigdatasmallprice_spark.operators.distill import SPARK_DIV, rdiv

    p = word_positions(docs)
    e = emb.select(F.col("word").alias("wd"), "dim", F.col("u_micro"))
    per_dim = (
        p.join(e, "wd")
        .groupBy("doc_id", "dim")
        .agg(
            F.sum("u_micro").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .selectExpr(
            "doc_id",
            "dim",
            f"CAST({rdiv('s', 'n', SPARK_DIV)} AS BIGINT) AS ev",
        )
    )
    return per_dim.groupBy("doc_id").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dim, ev))), s -> s.ev)"
        ).alias("xu")
    )


def o_doc_embeddings_sql(iters: int = SGNS_ITERS) -> str:
    """DuckDB twin of doc_embeddings as CTE text (no leading WITH):
    composes after o_word2vec_chain_sql (which defines ``wpos`` and
    ``emb{iters}``) and ends with ``dvec(doc_id, xu)``."""
    from bigdatasmallprice_spark.operators.distill import DUCK_DIV, rdiv

    return f"""dpool AS (
  SELECT p.doc_id, e.dim,
         CAST({rdiv('SUM(e.u)', 'COUNT(*)', DUCK_DIV)} AS BIGINT) AS ev
  FROM wpos p JOIN emb{iters} e ON p.wd = e.node
  GROUP BY 1, 2
),
dvec AS (
  SELECT doc_id, list(ev ORDER BY dim) AS xu FROM dpool GROUP BY doc_id
)"""


def o_word2vec_chain_sql(
    iters: int = SGNS_ITERS,
    window: int = SKIPGRAM_WINDOW,
    neg_per_pos: int = NEG_PER_POS,
    doc_source: str = "documents",
    dim: int | None = None,
) -> str:
    """DuckDB twin: the token-window prefix in front of the shared
    corpus-independent SGNS core. Ends with ``emb{iters}``. CTEs read
    more than once are MATERIALIZED: DuckDB 1.0 inlines a CTE at each
    reference."""
    prefix = f"""wtoks AS (
  SELECT doc_id, {_DUCK_TOKS} AS t FROM {doc_source}
),
wpos AS MATERIALIZED (
  SELECT doc_id, unnest(t) AS wd, generate_subscripts(t, 1) AS pos
  FROM wtoks
),
sgp AS MATERIALIZED (
  SELECT a.wd AS center, b.wd AS context, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM wpos a JOIN wpos b
    ON a.doc_id = b.doc_id AND a.pos <> b.pos
   AND abs(a.pos - b.pos) <= {window}
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (SELECT DISTINCT wd AS node FROM wpos)"""
    from bigdatasmallprice_spark.operators.sgns import EMB_DIM

    return prefix + ",\n" + o_sgns_core_sql(
        iters, dim=EMB_DIM if dim is None else dim, neg_per_pos=neg_per_pos
    )
