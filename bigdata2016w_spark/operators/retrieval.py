"""Inverted index + boolean retrieval — the reference's a3/a7 surface.

Reference shape: MR job builds ``term → VInt gap-encoded (docid, tf) list``
into MapFile/HBase (``JAVA/assignment3/BuildInvertedIndexCompressed.java:61-175``,
``JAVA/assignment7/BuildInvertedIndexHBase.java:87-109``), then an
interactive CLI evaluates postfix (RPN) boolean queries with a TreeSet
stack machine (``BooleanRetrievalCompressed.java:58-133``) and fetches
matching lines by byte-offset seek (``:147-152``).

Spark-first design: the postings live in a DataFrame — flat
``(term, docid, tf)`` for query-time filtering (Parquet min/max + optional
bloom filter on ``term`` replace the MapFile index) and a grouped
``(term, df, postings array<struct>)`` form (Parquet dictionary/delta
encoding subsumes the hand-rolled VInt gap compression,
``BuildInvertedIndexCompressed.java:151-161``). The RPN evaluator compiles
the query to set ops on docid DataFrames (``intersect``/``union`` — the
TreeSet AND/OR at ``:83-113``), and document display is a join against
``documents`` instead of a raw seek. The a7 HBase variant collapses into
the same table — the capability is a keyed postings store, not HBase.

docids are the ``doc_id`` column (the reference used the line's byte
offset as docid, ``BuildInvertedIndexCompressed.java:67,89``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata2016w_spark.functions.tokenizer import sql_escape, tokenize

RPN_OPS = ("AND", "OR")


def postings_flat(docs: DataFrame) -> DataFrame:
    """(term, docid, tf): per-document term frequencies.

    The per-doc TF histogram of BuildInvertedIndexCompressed.java:80-85 as
    one explode + hash aggregate.
    """
    return (
        docs.select(F.col("doc_id").alias("docid"),
                    F.explode(tokenize("text")).alias("term"))
        .groupBy("term", "docid")
        .agg(F.count("*").alias("tf"))
    )


def postings_grouped(docs: DataFrame) -> DataFrame:
    """(term, df, postings sorted array<struct<docid,tf>>).

    The reducer-side posting accumulation of
    BuildInvertedIndexCompressed.java:107-175; the secondary sort on
    (term, docid) (:89-91) becomes sort_array on the collected structs.
    """
    return (
        postings_flat(docs)
        .groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sort_array(F.collect_list(F.struct("docid", "tf"))).alias("postings"),
        )
    )


def eval_rpn(postings: DataFrame, query: str) -> DataFrame:
    """Evaluate a postfix boolean query → DataFrame[docid].

    Stack machine of BooleanRetrievalCompressed.java:58-77: operands push
    the term's docid set; AND = set intersection (:83-96), OR = set union
    (:98-113). Here the stack holds DataFrames and the set ops are
    relational ``intersect``/``union.distinct`` — distributed, no driver
    materialization.
    """
    stack: list[DataFrame] = []
    for tok in query.split():
        if tok == "AND":
            b, a = stack.pop(), stack.pop()
            stack.append(a.intersect(b))
        elif tok == "OR":
            b, a = stack.pop(), stack.pop()
            stack.append(a.union(b).distinct())
        else:
            stack.append(
                postings.where(F.col("term") == tok).select("docid").distinct()
            )
    if len(stack) != 1:
        raise ValueError(f"malformed RPN query {query!r}")
    return stack[0]


def bm25_rank(docs: DataFrame, terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Ranked retrieval: top-k docs by BM25 — the engine's extension past
    the reference's boolean-only retrieval (BooleanRetrievalCompressed.java
    evaluates membership, never rank).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf = ln((N − df + 0.5)/(df + 0.5) + 1).

    One tokenized pass: a per-doc aggregate over ``tokenize(text)`` gives
    the document length dl and each query term's tf, counted as
    ``size(t) − size(array_remove(t, term))`` — no explode, no lambda, no
    postings table. A one-row aggregate over that same exchange gives N
    (document rows), Σdl and the count of docs with tokens (for avgdl)
    and each term's df; it is broadcast-cross-joined onto the docs that
    hold a query term, and the top-k is ``orderBy().limit(k)``, which
    Catalyst plans as TakeOrderedAndProject (per-partition bounded heaps
    + driver merge of k×partitions rows), never a single-partition
    global window. Per-term expressions are SQL text, so building the
    plan takes a fixed number of Py4J calls whatever the query length.
    All counts stay int64; ln is rounded at the edge (libm last-ulp).
    """
    from pyspark.sql.functions import broadcast

    qs = list(dict.fromkeys(terms))
    tf = "".join(f", sum(size(t) - size(array_remove(t, '{sql_escape(q)}')))"
                 for q in qs)
    # c = [rows, dl, tf of each term]: one column, so column pruning
    # leaves the same aggregate under both consumers and they share its
    # exchange
    per_doc = (
        docs.select(F.col("doc_id").alias("docid"),
                    tokenize("text").alias("t"))
        .groupBy("docid")
        .agg(F.expr(f"array(count(*), sum(size(t)){tf}) AS c"))
    )
    tfs = [f"c[{i + 2}]" for i in range(len(qs))]
    stats = per_doc.selectExpr(
        "CAST(sum(c[0]) AS DOUBLE) AS n",
        "CAST(sum(if(c[1] > 0, c[1], NULL)) AS DOUBLE) / count_if(c[1] > 0)"
        " AS avgdl",
        "array({}) AS df".format(", ".join(f"count_if({t} > 0)" for t in tfs)),
    )
    score = " + ".join(
        f"if({t} > 0, ln((n - df[{i}] + 0.5D) / (df[{i}] + 0.5D) + 1.0D)"
        f" * ({t} * {1.0 + k1!r}D)"
        f" / ({t} + {k1!r}D * ({1.0 - b!r}D + {b!r}D * c[1] / avgdl)), 0.0D)"
        for i, t in enumerate(tfs)
    )
    # a NULL doc_id counts in N, avgdl and df but is never ranked; tested
    # inside the tf predicate, it is not pushed below the aggregate, which
    # would give the two consumers different exchanges
    return (
        per_doc.where(f"nvl2(docid, array_max(slice(c, 3, {len(qs)})), 0) > 0")
        .crossJoin(broadcast(stats))
        .selectExpr("docid", f"round({score or '0.0D'}, 6) AS score")
        .orderBy(F.desc("score"), "docid")
        .limit(k)
    )


def retrieve(docs: DataFrame, query: str) -> DataFrame:
    """RPN boolean retrieval returning (doc_id, text).

    Replaces the reference's fetchLine byte-seek
    (BooleanRetrievalCompressed.java:147-152) with a join back to the
    documents table.
    """
    hits = eval_rpn(postings_flat(docs), query)
    return (
        hits.join(docs, hits.docid == docs.doc_id)
        .select("doc_id", "text")
    )


def postings_positional(docs: DataFrame) -> DataFrame:
    """(term, docid, positions sorted array<int>): positional postings —
    the index extension phrase queries need (the reference's index is
    positionless, BuildInvertedIndexCompressed.java:80-85, so its
    retrieval stops at boolean AND/OR). One posexplode + collect_list per
    (term, doc); at scale this is the same one-shuffle build as the tf
    postings, with positions delta-friendly for parquet encoding."""
    return (
        docs.select(
            F.col("doc_id").alias("docid"),
            F.posexplode(tokenize("text")).alias("pos", "term"),
        )
        .groupBy("term", "docid")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def phrase_query(docs: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact-phrase retrieval: documents where ``phrase`` tokens occur at
    consecutive positions, with the match count per document.

    Plan: per-term positional postings equi-join on docid, consecutive-
    position check via ``arrays_overlap``-style intersection of shifted
    position arrays (JVM-side array ops, no explode of positions). The
    join chain touches only the phrase terms' postings — query cost is
    proportional to the rarest term's posting list, as in any inverted
    index."""
    if len(phrase) < 2:
        raise ValueError("phrase needs >= 2 terms")
    pos = postings_positional(docs)
    # start positions of term 0, then repeatedly intersect with the
    # (shifted) positions of each next term
    cur = pos.where(F.col("term") == phrase[0]).select(
        "docid", F.col("positions").alias("starts")
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = pos.where(F.col("term") == term).select(
            "docid",
            F.transform("positions", lambda p: p - i).alias(f"shift_{i}"),
        )
        cur = (
            cur.join(nxt, "docid")
            .select(
                "docid",
                F.array_intersect("starts", f"shift_{i}").alias("starts"),
            )
            .where(F.size("starts") > 0)
        )
    return cur.select(
        "docid",
        F.size("starts").cast("long").alias("n_matches"),
    )


def proximity_query(
    docs: DataFrame, term_a: str, term_b: str, window: int
) -> DataFrame:
    """Proximity retrieval: documents where ``term_a`` and ``term_b``
    co-occur within ``window`` token positions (unordered), with the
    qualifying pair count and the minimum observed distance per doc —
    the ranked-proximity primitive (``"a NEAR/w b"``) classic IR engines
    layer over positional postings.

    Plan: the two terms' positional postings equi-join on docid (cost
    bounded by the rarer term's posting list, like :func:`phrase_query`),
    then the pair predicate runs as JVM-side higher-order array
    functions over the two position arrays — ``aggregate`` +
    ``filter``/``array_min`` — so positions are never exploded into
    rows and nothing leaves the JVM. Per-doc work is |A|·|B| over
    in-memory ints, bounded by document length, independent of corpus
    size."""
    pos = postings_positional(docs)
    a = pos.where(F.col("term") == term_a).select(
        "docid", F.col("positions").alias("pa")
    )
    b = pos.where(F.col("term") == term_b).select(
        "docid", F.col("positions").alias("pb")
    )
    w = F.lit(window)
    n_pairs = F.aggregate(
        F.col("pa"),
        F.lit(0),
        lambda acc, x: acc + F.size(
            F.filter(F.col("pb"), lambda y: F.abs(y - x) <= w)
        ),
    )
    min_dist = F.aggregate(
        F.col("pa"),
        F.lit(None).cast("int"),
        lambda acc, x: F.least(
            acc, F.array_min(F.transform(F.col("pb"),
                                         lambda y: F.abs(y - x)))
        ),
    )
    return (
        a.join(b, "docid")
        .select(
            "docid",
            n_pairs.cast("long").alias("n_pairs"),
            min_dist.alias("min_dist"),
        )
        .where(F.col("n_pairs") > 0)
    )
