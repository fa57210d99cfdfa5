"""Distributed BPE merge training (Sennrich et al. 2016) — the
tokenizer-construction step of an LLM data pipeline, run over the
corpus's word-frequency table as pure DataFrame ops.

Algorithm (classic): start from words as character sequences; K times,
count adjacent symbol pairs weighted by word frequency, pick the most
frequent pair (deterministic tiebreak), and merge its occurrences
greedily left-to-right in every word. The learned merge list IS the
tokenizer.

Representation trick (the whole design): a word's symbol sequence is a
SENTINEL STRING — symbols joined and wrapped by ' ' (tokens are
[a-z0-9]+ so the space never collides), e.g. "low" → " l o w ". Then:

  * pair counting = split on ' ' + adjacent pairs (array ops, in-row);
  * the merge step = ONE builtin  replace(seq, ' l o ', ' lo ')  —
    the leading/trailing sentinels force symbol-boundary alignment, and
    both engines' replace() scans left-to-right non-overlapping and
    resumes AFTER each replacement, which is exactly BPE's greedy
    non-overlapping merge (" a a a " merges to " aa a ", never " aa aa ").

That keeps every round dual-dialect: the DuckDB oracle unrolls the same
K rounds CTE-for-CTE (the ivf_train discipline), so the hash compare
cross-validates the distributed loop against the textbook definition.

Scale shape: the vocabulary (one row per distinct word) is the working
set — 10^7-10^8 rows for web corpora, orders of magnitude under the
corpus. Per round: one in-row pair explode + one slim (l, r) count
shuffle + one TakeOrderedAndProject top-1 + a map-side replace, each
round through session.fixpoint. Nothing touches the documents after
the initial word-count shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf2smw_spark.operators.text_analysis import _tokens
from rdf2smw_spark.session import fixpoint

BPE_MERGES = 6  # rounds trained by the registered query


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-wide shuffle."""
    return (
        docs.select(F.explode(F.expr(_tokens("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _init_seq_spark() -> str:
    return (
        "concat(' ', array_join(transform(sequence(1, length(word)),"
        " i -> substring(word, i, 1)), ' '), ' ')"
    )


_PAIRS_SPARK = (
    "transform(sequence(1, size(__syms) - 1),"
    " i -> struct(element_at(__syms, i) AS l, element_at(__syms, i + 1) AS r))"
)


def _pair_counts(vocab: DataFrame) -> DataFrame:
    syms = "filter(split(seq, ' '), s -> s <> '')"
    return (
        vocab.select("freq", F.expr(syms).alias("__syms"))
        .filter(F.expr("size(__syms) >= 2"))
        .select("freq", F.explode(F.expr(_PAIRS_SPARK)).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(docs: DataFrame, k: int = BPE_MERGES) -> DataFrame:
    """(step, left, right, pair_count): the first k BPE merges learned
    from the corpus, step starting at 1. Deterministic: ties broken by
    (left, right) ascending. Stops early (fewer rows) if the vocabulary
    runs out of pairs — the registered corpus always sustains k."""
    merges = []

    def step(vocab: DataFrame):
        best = (
            _pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:  # no pair left: nothing changes, the loop stops
            return vocab, F.lit(False)
        l, r, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((len(merges) + 1, l, r, int(cnt)))
        return vocab.withColumn(
            "seq", F.expr(f"replace(seq, ' {l} {r} ', ' {l}{r} ')")
        ), None

    # persisted so round 1's pair count and checkpoint share one
    # corpus-wide word count
    vocab0 = (
        word_freqs(docs)
        .withColumn("seq", F.expr(_init_seq_spark()))
        .select("freq", "seq")
        .persist()
    )
    fixpoint(vocab0, step, k)
    vocab0.unpersist()
    return docs.sparkSession.createDataFrame(
        merges, "step long, left string, right string, pair_count long"
    )


def bpe_train_sql(docs_sql: str, k: int = BPE_MERGES) -> str:
    """DuckDB twin: the same k rounds unrolled as CTEs. Each round
    depends on the previous round's single best-pair row (CROSS JOIN),
    mirroring the driver-side collect of the Spark loop."""
    toks = f"list_filter({_tokens('text', 'duckdb')}, t -> t <> '')"
    init_seq = (
        "' ' || array_to_string(list_transform(generate_series(1, length(word)),"
        " i -> substring(word, i, 1)), ' ') || ' '"
    )
    ctes = [
        f"""wf AS (
        SELECT word, COUNT(*) AS freq FROM (
            SELECT UNNEST({toks}) AS word FROM {docs_sql}
        ) GROUP BY word
    )""",
        f"v0 AS (SELECT freq, {init_seq} AS seq FROM wf)",
    ]
    unions = []
    for s in range(1, k + 1):
        prev = f"v{s - 1}"
        ctes.append(f"""p{s} AS (
        SELECT syms[i] AS l, syms[i + 1] AS r, freq FROM (
            SELECT freq, syms, UNNEST(generate_series(1, len(syms) - 1)) AS i
            FROM (SELECT freq, list_filter(string_split(seq, ' '), x -> x <> '') AS syms
                  FROM {prev})
            WHERE len(syms) >= 2
        )
    )""")
        ctes.append(f"""b{s} AS (
        SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM p{s} GROUP BY l, r
        ORDER BY cnt DESC, l, r LIMIT 1
    )""")
        ctes.append(f"""v{s} AS (
        SELECT v.freq,
               replace(v.seq, ' ' || b.l || ' ' || b.r || ' ',
                       ' ' || b.l || b.r || ' ') AS seq
        FROM {prev} v CROSS JOIN b{s} b
    )""")
        unions.append(
            f"SELECT {s} AS step, l AS left, r AS right, cnt AS pair_count FROM b{s}"
        )
    body = " UNION ALL ".join(unions)
    return "WITH " + ",\n    ".join(ctes) + f"\n    {body}"


VOCAB_BROADCAST_LIMIT = 10_000_000  # distinct-word rows; ~100s of MB of strings


def bpe_encode_subset(
    train_docs: DataFrame, encode_docs: DataFrame, k: int = BPE_MERGES
) -> DataFrame:
    """(doc_id, widx, sidx, token): `encode_docs` encoded with the
    first k merges trained on `train_docs` — the APPLY half of the
    tokenizer next to bpe_train's learn half. widx is the word position
    in the doc, sidx the subword position within the word.

    Design: encoding is a DICTIONARY problem, not a per-document one —
    the corpus has 10^12 word occurrences but only 10^7-10^8 distinct
    words, so the merges are applied once per DISTINCT word (the k-deep
    nested replace over the sentinel string, pure JVM codegen,
    map-side) and documents join the encoded vocabulary on the word
    key: one guarded-broadcast (else shuffle) join, zero quadratic
    anything. The merge list itself is driver-side by construction —
    it IS the tokenizer, k rows."""
    from rdf2smw_spark.session import maybe_broadcast

    merges = bpe_train(train_docs, k).orderBy("step").collect()
    seq = _init_seq_spark()
    for m in merges:
        l, r = m["left"], m["right"]
        seq = f"replace({seq}, ' {l} {r} ', ' {l}{r} ')"
    toks = f"filter({_tokens('text')}, t -> t <> '')"
    words = encode_docs.select(
        "doc_id", F.posexplode(F.expr(toks)).alias("widx", "word")
    )
    vocab = (
        words.select("word")
        .distinct()
        .withColumn("toks", F.expr(f"filter(split({seq}, ' '), s -> s <> '')"))
    )
    enc = words.join(maybe_broadcast(vocab, VOCAB_BROADCAST_LIMIT), "word")
    return enc.select(
        "doc_id",
        F.col("widx").cast("long").alias("widx"),
        F.posexplode("toks").alias("sidx", "token"),
    ).select(
        "doc_id", "widx", F.col("sidx").cast("long").alias("sidx"), "token"
    )


def bpe_encode(docs: DataFrame, k: int = BPE_MERGES) -> DataFrame:
    """Train on and encode the same corpus (the common case)."""
    return bpe_encode_subset(docs, docs, k)


def bpe_encode_sql(docs_sql: str, encode_docs_sql: str | None = None, k: int = BPE_MERGES) -> str:
    """DuckDB twin: reuses bpe_train_sql's training CTEs (wf, b1..bk)
    verbatim, then carries the WORD through k word-level replace rounds
    (w0..wk) and joins the exploded documents against the encoded
    vocabulary — the same dictionary-join shape as the Spark plan.
    `encode_docs_sql` lets the caller train on the full corpus but
    encode a subset (mirrors the registered query's gate-speed trim)."""
    train = bpe_train_sql(docs_sql, k)
    # reuse the training CTE list verbatim; drop its trailing merge-list
    # body, which starts at the first per-step SELECT of the UNION
    idx = train.index("SELECT 1 AS step")
    ctes = train[:idx].rstrip().rstrip(",")
    if encode_docs_sql is None:
        encode_docs_sql = docs_sql
    toks = f"list_filter({_tokens('text', 'duckdb')}, t -> t <> '')"
    init_seq = (
        "' ' || array_to_string(list_transform(generate_series(1, length(word)),"
        " i -> substring(word, i, 1)), ' ') || ' '"
    )
    w_ctes = [f"w0 AS (SELECT word, {init_seq} AS seq FROM wf)"]
    for s in range(1, k + 1):
        w_ctes.append(
            f"""w{s} AS (
        SELECT w.word,
               replace(w.seq, ' ' || b.l || ' ' || b.r || ' ',
                       ' ' || b.l || b.r || ' ') AS seq
        FROM w{s - 1} w CROSS JOIN b{s} b
    )"""
        )
    w_ctes.append(
        f"wt AS (SELECT word, list_filter(string_split(seq, ' '), x -> x <> '')"
        f" AS toks FROM w{k})"
    )
    w_ctes.append(
        f"""dw AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS widx, toks[i] AS word FROM (
            SELECT doc_id, toks, UNNEST(generate_series(1, len(toks))) AS i
            FROM (SELECT doc_id, {toks} AS toks FROM {encode_docs_sql})
        )
    )"""
    )
    return (
        ctes
        + ",\n    "
        + ",\n    ".join(w_ctes)
        + """
    SELECT doc_id, widx, CAST(j - 1 AS BIGINT) AS sidx, toks[j] AS token FROM (
        SELECT d.doc_id, d.widx, w.toks,
               UNNEST(generate_series(1, len(w.toks))) AS j
        FROM dw d JOIN wt w USING (word)
    )
    """
    )
