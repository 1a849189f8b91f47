"""LLM-corpus preparation operators: repetition quality filters, document
chunking, and context-window packing (SURVEY.md §2.10 north-star family).

No reference counterpart: Alrash/DataFramework handles only numeric
feature matrices (``/root/reference/DFW/preprocess.py:50``); these are the
operators a pretraining-data pipeline runs between raw text and tokenized
training sequences:

* :func:`text_repetition_stats` — Gopher-style repetition signals
  (top-bigram fraction, duplicated-bigram fraction) used to drop
  boilerplate/spam documents;
* :func:`text_chunk_sliding` — fixed-size sliding-window chunking with
  overlap (the RAG / long-doc splitting primitive);
* :func:`text_pack_sequences` — greedy contiguous packing of documents
  into fixed token budgets (context-window fill accounting).

Scale design (100 TB): chunking and packing are narrow per-row array
expressions plus at most one shuffle (explode stays within the row until
the final explode; packing shuffles once on the partition key for its
window cumsum).  Repetition stats shuffle on (doc_id, bigram) — the same
key shape as term frequency, so partial aggregation absorbs the skew of
repeated bigrams before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataframework_spark.catalog import load_table
from dataframework_spark.functions.arrays import (
    DUCK_TEXT_FP_SQL,
    DUCK_TOKENS_SQL,
    TOKENS_SQL,
    duck_tid_sql,
    text_fp,
    tid_sql,
    tokens,
)
from dataframework_spark.functions.ranking import global_order_stats
from dataframework_spark.registry import register

# Spark SQL: NON-distinct word bigrams of the ``toks`` column (repetition
# metrics need multiplicity, unlike the dedup shingles which are distinct).
_BIGRAMS_SPARK = (
    "case when size(toks) < 2 then array() "
    "else transform(sequence(1, size(toks) - 1), i -> array_join(slice(toks, i, 2), ' ')) end"
)
# Same bigrams collapsed to int64 identities inside the row, so the shuffle
# never carries strings (counting needs identity only; see docstring).
_BIGRAM_HASHES_SPARK = (
    "case when size(toks) < 2 then array() "
    "else transform(sequence(1, size(toks) - 1), "
    "i -> xxhash64(array_join(slice(toks, i, 2), ' '))) end"
)
_BIGRAMS_DUCK = (
    "case when len(toks) < 2 then [] "
    "else list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1]) end"
)


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    b AS (SELECT doc_id, unnest({_BIGRAMS_DUCK}) AS bg FROM t),
    c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM b GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT)                           AS n_bigrams,
           MAX(cnt)                                           AS top_bigram_count,
           ROUND(MAX(cnt)::DOUBLE / SUM(cnt), 4)              AS top_bigram_frac,
           ROUND(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE
                 / SUM(cnt), 4)                               AS dup_bigram_frac
    FROM c GROUP BY doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction
    of bigram occurrences claimed by the single most frequent bigram, and
    the fraction covered by any repeated bigram (Rae et al. 2021 drop
    documents above thresholds on exactly these).

    Plan: bigrams are built narrowly inside codegen (``sequence`` +
    ``slice`` never leave the row) and immediately collapsed to xxhash64
    int64 keys, so the (doc_id, bigram) exchange moves 16-byte rows, never
    strings — same exchange shape as term frequency, linear in corpus
    token count (the count-by-key only needs bigram *identity*; a 64-bit
    collision inside one document is the only failure mode and is
    vanishingly rare at any document length).  The scan is spread across
    executors first because the test parquet is a single split and the
    bigram expansion is the CPU-bound stage.  Documents with fewer than
    two tokens have no bigrams and drop out on both sides."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    b = docs.withColumn("toks", tokens()).select(
        "doc_id", F.explode(F.expr(_BIGRAM_HASHES_SPARK)).alias("bg")
    )
    c = b.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt")
    return c.groupBy("doc_id").agg(
        n.alias("n_bigrams"),
        F.max("cnt").alias("top_bigram_count"),
        F.round(F.max("cnt").cast("double") / n, 4).alias("top_bigram_frac"),
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))).cast("double") / n,
            4,
        ).alias("dup_bigram_frac"),
    )


_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # chunk start step (overlap = _CHUNK - _STRIDE = 8 tokens)


@register(
    "text_chunk_sliding",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), {_STRIDE})) AS start
          FROM t)
    SELECT doc_id,
           (start - 1) // {_STRIDE}                                AS chunk_id,
           len(list_slice(toks, start, start + {_CHUNK} - 1))      AS chunk_len,
           array_to_string(list_slice(toks, start, start + {_CHUNK} - 1), ' ') AS chunk_text
    FROM s
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split every document into {_CHUNK}-token
    chunks starting every {_STRIDE} tokens (8-token overlap) — the
    splitting primitive for RAG indexing and long-document training, where
    overlap preserves context across chunk boundaries.

    Plan: chunk starts and slices are pure array expressions inside
    whole-stage codegen; the only row-expanding step is the final
    ``explode``, which is narrow (no shuffle at any scale — output
    partitioning inherits the scan).  The trailing chunk is naturally
    partial; ``slice`` past the end clamps identically in both engines."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    t = docs.withColumn("toks", tokens())
    s = t.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"sequence(1, size(toks), {_STRIDE})")).alias("start"),
    )
    chunk = F.expr(f"slice(toks, start, {_CHUNK})")
    return s.select(
        "doc_id",
        ((F.col("start") - 1) / _STRIDE).cast("bigint").alias("chunk_id"),
        F.size(chunk).alias("chunk_len"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


_CTX = 2048  # token budget per packed sequence


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (SELECT lang, doc_id, len({DUCK_TOKENS_SQL}) AS n FROM documents),
    c AS (SELECT lang, n,
                 SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT lang,
           CAST(FLOOR((cum - n) / {_CTX}.0) AS BIGINT) AS pack_id,
           COUNT(*)                                    AS n_docs,
           CAST(SUM(n) AS BIGINT)                      AS pack_tokens,
           ROUND(SUM(n)::DOUBLE / {_CTX}, 4)           AS fill_ratio
    FROM c GROUP BY lang, pack_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing accounting: stream each language's documents
    in doc_id order into {_CTX}-token budgets; a document belongs to the
    pack in which it *starts* (greedy contiguous fill, documents may
    straddle a boundary — the standard pre-tokenization packing layout).
    Reports docs, tokens, and fill ratio per pack.

    Plan: one shuffle on the partition key (lang) for the running-sum
    window, then the pack rollup reuses that partitioning (no second
    exchange of the full data).  The window is a plain cumulative sum —
    linear, spill-safe, and the per-key streams are independent, so the
    plan is embarrassingly parallel across languages/shards at 100 TB."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text", "lang"])
    t = docs.select("lang", "doc_id", F.size(tokens()).alias("n"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n").over(w))
    pack = F.floor((F.col("cum") - F.col("n")) / float(_CTX)).cast("bigint")
    return (
        c.withColumn("pack_id", pack)
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("pack_tokens"),
            F.round(F.sum("n").cast("double") / _CTX, 4).alias("fill_ratio"),
        )
    )


# Mixture sampling: per-source weights (odd-indexed sources upweighted 3×) and
# a global keep budget of 40% of corpus tokens.  Rates derive from the data,
# selection is a deterministic per-doc hash threshold — no rand() anywhere.
_MIX_BUDGET_FRAC = 0.4
_MIX_MOD = 1_000_000


@register(
    "corpus_mixture_sample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, len({DUCK_TOKENS_SQL}) AS n FROM documents),
    st AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS src_tokens,
             CASE WHEN CAST(SUBSTR(source, 4) AS INT) % 2 = 1 THEN 3.0 ELSE 1.0 END AS w
      FROM tok GROUP BY source),
    tot AS (
      SELECT SUM(src_tokens) * {_MIX_BUDGET_FRAC} AS budget, SUM(w) AS sum_w FROM st),
    rates AS (
      SELECT source, src_tokens,
             LEAST(1.0, (SELECT budget FROM tot) * w / (SELECT sum_w FROM tot)
                        / src_tokens) AS rate
      FROM st),
    kept AS (
      SELECT t.source, t.n
      FROM tok t JOIN rates r ON t.source = r.source
      WHERE {duck_tid_sql("t.doc_id", mod=_MIX_MOD)}
            < CAST(FLOOR(r.rate * {_MIX_MOD}) AS BIGINT))
    SELECT r.source,
           r.src_tokens,
           ROUND(r.rate, 6)                    AS rate,
           COALESCE(COUNT(k.n), 0)             AS docs_kept,
           CAST(COALESCE(SUM(k.n), 0) AS BIGINT) AS tokens_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    GROUP BY r.source, r.src_tokens, r.rate
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: downsample each source to hit a
    global token budget ({_MIX_BUDGET_FRAC:.0%} of the corpus) split across
    sources by quality weight (odd-indexed sources ×3) — the operation
    that turns N crawled sources into a pretraining mixture with pinned
    proportions.  Selection is a pure function of ``doc_id`` (md5-prefix
    threshold, the same cross-dialect hash the dedup family uses), so the
    sample is reproducible run-over-run and engine-over-engine — never
    ``rand()``.

    Plan: two fact scans by design — pass 1 reduces the corpus to a
    source-sized token-total aggregate (map-side combinable, ~20 rows
    out), pass 2 applies the derived rates as a narrow row-local hash
    compare with the ~20-row rate table broadcast.  Rates depend on the
    full totals, so a single-pass form would need the whole corpus
    cached; two cold scans is the shape that survives 100 TB.  No
    windows, no wide shuffles of document rows anywhere."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    tok = docs.select("doc_id", "source", F.size(tokens()).alias("n"))
    st = tok.groupBy("source").agg(F.sum("n").alias("src_tokens")).withColumn(
        "w",
        F.when(F.substring("source", 4, 10).cast("int") % 2 == 1, F.lit(3.0)).otherwise(
            F.lit(1.0)
        ),
    )
    tot = st.agg(
        (F.sum("src_tokens") * F.lit(_MIX_BUDGET_FRAC)).alias("budget"),
        F.sum("w").alias("sum_w"),
    )
    rates = (
        st.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.col("budget") * F.col("w") / F.col("sum_w") / F.col("src_tokens"),
            ),
        )
        .select("source", "src_tokens", "rate")
    )
    thr = F.floor(F.col("rate") * _MIX_MOD).cast("bigint")
    keep = F.expr(tid_sql("doc_id", mod=_MIX_MOD))
    kept = (
        tok.join(F.broadcast(rates), on="source")
        .where(keep < thr)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs_kept"), F.sum("n").alias("tokens_kept"))
    )
    return (
        rates.join(kept, on="source", how="left")
        .select(
            "source",
            "src_tokens",
            F.round("rate", 6).alias("rate"),
            F.coalesce("docs_kept", F.lit(0)).alias("docs_kept"),
            F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        )
    )


_VOCAB_K = 16  # top-K global vocabulary (test corpus has 31 distinct tokens)


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH lt AS (
      SELECT lang, tok, COUNT(*) AS cnt
      FROM (SELECT lang, unnest({DUCK_TOKENS_SQL}) AS tok FROM documents)
      GROUP BY 1, 2),
    v AS (
      SELECT tok FROM (SELECT tok, SUM(cnt) AS tot FROM lt GROUP BY tok)
      ORDER BY tot DESC, tok LIMIT {_VOCAB_K})
    SELECT lang,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN cnt ELSE 0 END) AS BIGINT) AS in_vocab,
           ROUND(1.0 - SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN cnt ELSE 0 END)::DOUBLE
                 / SUM(cnt), 4) AS oov_rate
    FROM lt GROUP BY lang
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate audit: fix the top-{_VOCAB_K} global
    vocabulary (count desc, token asc — fully deterministic under ties)
    and measure, per language, what fraction of token OCCURRENCES fall
    outside it — the go/no-go check before committing a tokenizer's vocab
    to a multilingual corpus.

    Plan: ONE fact scan builds the (lang, token) count table (vocab ×
    languages rows — tiny), cached; the global ranking, the top-K cut
    (``orderBy().limit()`` = TakeOrderedAndProject, no global sort
    shuffle), and the per-lang rollup all reuse it.  The vocab set joins
    back as a broadcast."""
    docs = load_table(spark, sf_dir, "documents", columns=["lang", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    lt = (
        docs.select("lang", F.explode(tokens()).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()  # vocab×lang-sized; consumed by the ranking AND the rollup
    )
    v = (
        lt.groupBy("tok")
        .agg(F.sum("cnt").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("tok"))
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("_in_v"))
    )
    return (
        lt.join(F.broadcast(v), on="tok", how="left")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.when(F.col("_in_v") == 1, F.col("cnt")).otherwise(0)).alias("in_vocab"),
            F.round(
                1.0
                - F.sum(F.when(F.col("_in_v") == 1, F.col("cnt")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("cnt"),
                4,
            ).alias("oov_rate"),
        )
    )


_BPE_ROUNDS = 8


def _bpe_merge_expr(a: str, b: str) -> str:
    """Spark SQL fold: greedy left-to-right non-overlapping merge of the
    adjacent symbol pair (a, b) inside the ``syms`` array — pure JVM
    higher-order expression, no UDF.  After a merge the combined symbol
    differs from ``a``, so the fold cannot re-merge across a fresh merge
    (exactly BPE's in-round greedy semantics)."""
    qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
    return (
        "aggregate(syms, cast(array() as array<string>), (res, x) -> "
        f"case when size(res) > 0 and element_at(res, -1) = '{qa}' and x = '{qb}' "
        f"then concat(slice(res, 1, size(res) - 1), array('{qa}{qb}')) "
        "else concat(res, array(x)) end)"
    )


def _bpe_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Static DuckDB twin of the distributed BPE learner: the merge loop
    unrolled into a chained CTE pipeline — each round's argmax pair is a
    1-row ``MATERIALIZED`` CTE (forced once-eval; without it the chain
    re-inlines exponentially) whose columns the next vocab rewrite
    captures inside a ``list_reduce`` lambda.  The greedy left-to-right
    non-overlapping merge is encoded as a string fold over ``chr(31)``
    (unit separator — cannot occur inside whitespace-split tokens): merge
    only when the accumulator's LAST full symbol equals the left half,
    which reproduces :func:`_bpe_merge_expr`'s no-re-merge guard exactly.
    Verified against the pure-Python Sennrich reference at sf0.01
    (``test_bpe_merges_match_reference_impl``)."""
    return "WITH " + ",\n    ".join(_bpe_cte_chain(rounds)) + "\n    " + (
        "\n    UNION ALL ".join(
            f"SELECT CAST(round AS INT) AS round, bl AS left, br AS right, "
            f"bl || br AS merged, CAST(cnt AS BIGINT) AS pair_count FROM best{k}"
            for k in range(1, rounds + 1)
        )
    )


def _bpe_cte_chain(rounds: int, thru_final: bool = False) -> list[str]:
    """The unrolled BPE CTE chain shared by the train oracle
    (:func:`_bpe_oracle_sql`) and the encode oracle
    (:func:`_bpe_encode_oracle_sql`, which needs the word column retained
    and the FINAL rewritten vocab — ``thru_final``)."""
    ctes = [
        r"""vocab0 AS MATERIALIZED (
      SELECT tok AS word, str_split(tok, '') AS syms, COUNT(*)::BIGINT AS freq
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
      GROUP BY tok)"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""pairs{k} AS (
      SELECT syms[i + 1] AS l, syms[i + 2] AS r, SUM(freq) AS cnt
      FROM (SELECT freq, syms, unnest(range(len(syms) - 1)) AS i FROM vocab{k - 1})
      GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""best{k} AS MATERIALIZED (
      SELECT {k} AS round, l AS bl, r AS br, cnt FROM pairs{k}
      ORDER BY cnt DESC, l, r LIMIT 1)"""
        )
        if k < rounds or thru_final:
            ctes.append(
                f"""vocab{k} AS MATERIALIZED (
      SELECT word, CASE WHEN len(syms) < 2 THEN syms ELSE
        str_split(list_reduce(syms, (acc, x) ->
          CASE WHEN (acc = bl OR ends_with(acc, chr(31) || bl)) AND x = br
               THEN acc[1:len(acc) - len(bl)] || bl || br
               ELSE acc || chr(31) || x END), chr(31)) END AS syms, freq
      FROM vocab{k - 1} CROSS JOIN best{k})"""
            )
    return ctes


@register("text_bpe_merges", eager=True, oracle=_bpe_oracle_sql())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016) as a distributed
    pipeline: learn the first {_BPE_ROUNDS} merge rules from corpus word
    frequencies.  No reference counterpart; this is the tokenizer-fitting
    step a pretraining pipeline runs before token counting/packing.

    Scale design — the part that matters at 100 TB: the ONLY corpus-scale
    work is the word-frequency aggregate (one map-side-combinable
    shuffle).  The merge loop then operates on the VOCABULARY table
    (words × counts — bounded by language, not by corpus size): each
    round counts adjacent symbol pairs weighted by word frequency (a
    vocab-sized explode), picks the argmax pair with a deterministic
    (count DESC, pair ASC) tie-break via a bounded 1-row collect, and
    rewrites symbol arrays with a pure higher-order fold expression
    (:func:`_bpe_merge_expr` — no UDFs).  ``localCheckpoint`` per round
    truncates the growing lineage; unlike ``iterate.fixpoint``'s loops,
    each round hinges on a driver-side argmax ``collect``.

    Output: one row per learned merge — (round, left, right, merged,
    pair_count).  Upgraded rows-only → FULL value-hash in r4: the merge
    sequence is a deterministic function of the word-frequency table
    (exact integer counts, ``(count DESC, pair ASC)`` tie-break), so the
    oracle unrolls the same loop into static DuckDB SQL
    (:func:`_bpe_oracle_sql`) — both engines must learn the identical
    merge table.  ``test_bpe_merges_match_reference_impl`` additionally
    pins both against a pure-Python reference BPE at sf0.01."""
    docs = load_table(spark, sf_dir, "documents", columns=["text"])
    vocab = (
        docs.select(F.explode(tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.expr("transform(split(w, ''), c -> c)"))
        .localCheckpoint()
    )
    merges = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pairs = (
            vocab.select(
                "freq",
                F.explode(
                    F.expr(
                        "case when size(syms) < 2 then array() else "
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) as l, element_at(syms, i + 1) as r)) end"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()  # bounded: exactly one argmax row per round
        )
        if not pairs:
            break
        best = pairs[0]
        merges.append((rnd, best.l, best.r, best.l + best.r, int(best.cnt)))
        vocab = vocab.withColumn(
            "syms", F.expr(_bpe_merge_expr(best.l, best.r))
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "round INT, left STRING, right STRING, merged STRING, pair_count BIGINT"
    )


def _bpe_encode_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Encode oracle: the same unrolled chain carried through the FINAL
    vocab rewrite, then each document's whitespace tokens joined to their
    encoded symbol counts."""
    ctes = _bpe_cte_chain(rounds, thru_final=True)
    ctes.append(
        f"enc AS (SELECT word, len(syms) AS n_sym FROM vocab{rounds})"
    )
    ctes.append(
        r"""dw AS (
      SELECT doc_id, tok AS word, COUNT(*)::BIGINT AS cnt
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
            FROM documents)
      WHERE length(tok) > 0
      GROUP BY 1, 2)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT dw.doc_id,
           CAST(SUM(dw.cnt) AS BIGINT)                AS n_ws_tokens,
           CAST(SUM(dw.cnt * enc.n_sym) AS BIGINT)    AS n_bpe_symbols,
           ROUND(SUM(dw.cnt * enc.n_sym)::DOUBLE
                 / SUM(dw.cnt * length(dw.word)), 4)  AS syms_per_char
    FROM dw JOIN enc USING (word)
    GROUP BY dw.doc_id"""
    )


@register("text_bpe_encode", eager=True, oracle=_bpe_encode_oracle_sql())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fit → TRANSFORM: apply the merge table
    ``text_bpe_merges`` learns to the corpus itself, reporting per
    document the whitespace-token count, the encoded BPE symbol count,
    and symbols-per-character (the compression a trained tokenizer buys —
    the number a data pipeline uses to convert storage bytes into a
    token budget).

    Scale design (the fit side's contract-then-iterate, extended):
    merges are learned on the vocab table and collected as 8 bounded
    rows; ENCODING also runs on the vocabulary — each distinct word is
    encoded once through the 8 pure-fold merge expressions — and the
    corpus only joins word → symbol-count on the word key (pinned
    ``shuffle_hash``: the vocab is language-bounded but data-dependent,
    never broadcast).  Corpus-scale work = tokenize + one join + one
    rollup; the 8-round fold never touches corpus-sized data.  The
    DuckDB oracle carries the same unrolled chain through the final
    vocab rewrite, so fit AND transform are value-hash-checked
    end-to-end."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    merges = text_bpe_merges(spark, sf_dir).orderBy("round").collect()  # bounded: 8 merge rounds
    vocab = (
        docs.select(F.explode(tokens()).alias("word"))
        .where(F.length("word") > 0)
        .distinct()
        .withColumn("syms", F.expr("transform(split(word, ''), c -> c)"))
    )
    for m in merges:
        vocab = vocab.withColumn("syms", F.expr(_bpe_merge_expr(m.left, m.right)))
    enc = vocab.select("word", F.size("syms").alias("n_sym"))
    dw = (
        docs.select("doc_id", F.explode(tokens()).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        dw.join(enc.hint("shuffle_hash"), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_ws_tokens"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_bpe_symbols"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_sym"))
                / F.sum(F.col("cnt") * F.length("word")),
                4,
            ).alias("syms_per_char"),
        )
    )


def _bpe_mixture_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Mixture-sampling oracle with the budget denominated in REAL BPE
    symbols: the unrolled merge chain through the final vocab, per-doc
    symbol counts, then the corpus_mixture_sample rate machinery on
    those counts (whitespace totals kept alongside for the graded
    comparison)."""
    ctes = _bpe_cte_chain(rounds, thru_final=True)
    ctes.append(f"enc AS (SELECT word, len(syms) AS n_sym FROM vocab{rounds})")
    ctes.append(
        r"""dw AS (
      SELECT doc_id, source, tok AS word, COUNT(*)::BIGINT AS cnt
      FROM (SELECT doc_id, source,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
            FROM documents)
      WHERE length(tok) > 0
      GROUP BY 1, 2, 3)"""
    )
    ctes.append(
        """dt AS (
      SELECT doc_id, source, SUM(cnt) AS n_ws, SUM(cnt * enc.n_sym) AS n_bpe
      FROM dw JOIN enc USING (word) GROUP BY 1, 2)"""
    )
    ctes.append(
        """st AS (
      SELECT source, SUM(n_ws) AS src_ws, SUM(n_bpe) AS src_bpe,
             CASE WHEN CAST(SUBSTR(source, 4) AS INT) % 2 = 1
                  THEN 3.0 ELSE 1.0 END AS w
      FROM dt GROUP BY source)"""
    )
    ctes.append(
        f"""tot AS (
      SELECT SUM(src_bpe) * {_MIX_BUDGET_FRAC} AS budget, SUM(w) AS sum_w
      FROM st)"""
    )
    ctes.append(
        """rates AS (
      SELECT source, src_ws, src_bpe,
             LEAST(1.0, (SELECT budget FROM tot) * w / (SELECT sum_w FROM tot)
                        / src_bpe) AS rate
      FROM st)"""
    )
    ctes.append(
        f"""kept AS (
      SELECT t.source, t.n_ws, t.n_bpe
      FROM dt t JOIN rates r ON t.source = r.source
      WHERE {duck_tid_sql("t.doc_id", mod=_MIX_MOD)}
            < CAST(FLOOR(r.rate * {_MIX_MOD}) AS BIGINT))"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT r.source,
           CAST(r.src_ws AS BIGINT)                 AS src_ws_tokens,
           CAST(r.src_bpe AS BIGINT)                AS src_bpe_tokens,
           ROUND(r.rate, 6)                         AS rate,
           COALESCE(COUNT(k.n_bpe), 0)              AS docs_kept,
           CAST(COALESCE(SUM(k.n_ws), 0) AS BIGINT) AS ws_tokens_kept,
           CAST(COALESCE(SUM(k.n_bpe), 0) AS BIGINT) AS bpe_tokens_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    GROUP BY r.source, r.src_ws, r.src_bpe, r.rate"""
    )


@register("corpus_mixture_sample_bpe", eager=True, oracle=_bpe_mixture_oracle_sql())
def corpus_mixture_sample_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_mixture_sample`` with the budget denominated in REAL
    tokenizer tokens (r10 VERDICT "Next round" #3): every pretraining
    budget is billed in BPE symbols, not whitespace words, and the two
    diverge systematically (long words explode, function words don't) —
    so the per-source rates themselves shift.  The learned merge table
    (``text_bpe_merges``) encodes the vocabulary, per-doc symbol counts
    come from the word→n_sym join (``text_bpe_encode``'s transform), and
    the mixture machinery then runs on REAL symbol totals: the 40%
    budget, the quality-weighted per-source rates, and the kept totals
    are all BPE-denominated.  Whitespace totals are emitted alongside
    (``src_ws_tokens`` / ``ws_tokens_kept``) so the graded result IS the
    whitespace-vs-real-token comparison.

    Scale shape unchanged from the whitespace form: the merge fold runs
    on the language-bounded vocabulary, the corpus pays tokenize + one
    ``shuffle_hash`` word join + two source-sized aggregates, selection
    stays the deterministic md5 threshold, and the ~20-row rate table is
    broadcast.  The oracle carries the full unrolled chain (fit →
    encode → budget → rates → kept) so the whole pipeline is
    value-hash-checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    merges = text_bpe_merges(spark, sf_dir).orderBy("round").collect()  # bounded: 8 merge rounds
    vocab = (
        docs.select(F.explode(tokens()).alias("word"))
        .where(F.length("word") > 0)
        .distinct()
        .withColumn("syms", F.expr("transform(split(word, ''), c -> c)"))
    )
    for m in merges:
        vocab = vocab.withColumn("syms", F.expr(_bpe_merge_expr(m.left, m.right)))
    enc = vocab.select("word", F.size("syms").alias("n_sym"))
    dw = (
        docs.select("doc_id", "source", F.explode(tokens()).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("doc_id", "source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dt = (
        dw.join(enc.hint("shuffle_hash"), "word")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").alias("n_ws"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_bpe"),
        )
        # r12 note (guide §1.3 know when to stop): dt feeds BOTH the
        # per-source totals and the kept-docs aggregate, so the tokenize +
        # word-count + encode-join chain runs twice (Catalyst does not
        # dedupe subtrees).  A dt.cache() was tried and REVERTED: locally
        # the duplicate chains run concurrently on idle cores inside one
        # job, so the cache only added its materialization barrier
        # (A/B/A/B mins 2.1-3.0 s uncached vs 2.7-4.1 s cached at sf0.1).
    )
    st = (
        dt.groupBy("source")
        .agg(F.sum("n_ws").alias("src_ws"), F.sum("n_bpe").alias("src_bpe"))
        .withColumn(
            "w",
            F.when(
                F.substring("source", 4, 10).cast("int") % 2 == 1, F.lit(3.0)
            ).otherwise(F.lit(1.0)),
        )
    )
    tot = st.agg(
        (F.sum("src_bpe") * F.lit(_MIX_BUDGET_FRAC)).alias("budget"),
        F.sum("w").alias("sum_w"),
    )
    rates = (
        st.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.col("budget") * F.col("w") / F.col("sum_w") / F.col("src_bpe"),
            ),
        )
        .select("source", "src_ws", "src_bpe", "rate")
    )
    thr = F.floor(F.col("rate") * _MIX_MOD).cast("bigint")
    keep = F.expr(tid_sql("doc_id", mod=_MIX_MOD))
    kept = (
        dt.join(F.broadcast(rates.select("source", "rate")), on="source")
        .where(keep < thr)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_ws").alias("ws_tokens_kept"),
            F.sum("n_bpe").alias("bpe_tokens_kept"),
        )
    )
    return (
        rates.join(kept, on="source", how="left")
        .select(
            "source",
            F.col("src_ws").alias("src_ws_tokens"),
            F.col("src_bpe").alias("src_bpe_tokens"),
            F.round("rate", 6).alias("rate"),
            F.coalesce("docs_kept", F.lit(0)).alias("docs_kept"),
            F.coalesce("ws_tokens_kept", F.lit(0)).alias("ws_tokens_kept"),
            F.coalesce("bpe_tokens_kept", F.lit(0)).alias("bpe_tokens_kept"),
        )
    )


# ---------------------------------------------------------------------------
# C5 — training-shard layout: token-balanced shard assignment
# ---------------------------------------------------------------------------

_N_SHARDS = 8


@register(
    "corpus_shard_layout",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({DUCK_TOKENS_SQL}) AS n_tokens FROM documents),
    o AS (SELECT doc_id, n_tokens, md5(CAST(doc_id AS VARCHAR)) AS h FROM t),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             SUM(n_tokens) OVER () AS total
      FROM o)
    SELECT CAST(cb * {_N_SHARDS} // total AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           ROUND(SUM(n_tokens)::DOUBLE / MAX(total), 4) AS token_share
    FROM c GROUP BY 1
    """,
)
def corpus_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard layout: deterministically shuffle the corpus
    (md5(doc_id) order — the epoch-reshuffle every data loader needs,
    with no ``rand()``) and cut the shuffled sequence into {n} shards at
    TOKEN-count boundaries, not document counts — so each shard feeds a
    trainer the same amount of work even when document lengths are
    skewed.  Emits per-shard doc count, token count, and token share;
    near-equal shares (±1 doc's tokens) are the verified balance
    property, and the assignment is reproducible run-to-run because the
    order key is a content-free hash.

    Scale shape: tokenize once (narrow), then ONE range shuffle for the
    global running sum (``global_order_stats`` — parallel sort +
    partition-count-sized prefix offsets, never a single-partition
    window), then an 8-row aggregate.  Writing the shards afterwards is
    ``partitionBy(shard)`` on the same pass.  At 100 TB this replaces
    the driver-side file-list shuffling that breaks exactly when the
    corpus stops fitting in a manifest."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    t = docs.select(
        "doc_id",
        F.size(tokens()).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    c = global_order_stats(
        t,
        [F.col("h"), F.col("doc_id")],
        value_col="n_tokens",
        cum="cum",
        value_total="total",
    )
    return (
        c.select(
            (((F.col("cum") - F.col("n_tokens")) * _N_SHARDS / F.col("total")).cast("bigint")).alias("shard"),
            "n_tokens",
            "total",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.sum("n_tokens") / F.max("total"), 4).alias("token_share"),
        )
    )


corpus_shard_layout.__doc__ = corpus_shard_layout.__doc__.format(n=_N_SHARDS)


# ---------------------------------------------------------------------------
# Length-bucketed batching: padding-waste accounting
# ---------------------------------------------------------------------------

_LB_BUCKET = 32  # lengths round up to multiples of this for bucketing
_LB_BATCH = 8  # documents per batch within a bucket


@register(
    "corpus_length_batching",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({DUCK_TOKENS_SQL}) AS n FROM documents),
    b AS (
      SELECT doc_id, n,
             CAST(CEIL(n / {_LB_BUCKET}.0) * {_LB_BUCKET} AS BIGINT) AS bucket,
             (row_number() OVER (PARTITION BY CAST(CEIL(n / {_LB_BUCKET}.0)
                                               * {_LB_BUCKET} AS BIGINT)
                                 ORDER BY doc_id) - 1) // {_LB_BATCH} AS batch_id
      FROM t),
    per_batch AS (
      SELECT bucket, batch_id, COUNT(*) AS n_docs,
             MAX(n) AS max_len, SUM(n) AS real_tokens
      FROM b GROUP BY bucket, batch_id)
    SELECT bucket,
           COUNT(*)                                    AS n_batches,
           CAST(SUM(n_docs) AS BIGINT)                 AS n_docs,
           CAST(SUM(real_tokens) AS BIGINT)            AS real_tokens,
           CAST(SUM(max_len * n_docs) AS BIGINT)       AS padded_tokens,
           ROUND(1.0 - SUM(real_tokens)::DOUBLE
                 / SUM(max_len * n_docs), 4)           AS waste_ratio
    FROM per_batch GROUP BY bucket
    """,
)
def corpus_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching with dynamic padding, and the padding-
    waste bill: documents round up to {_LB_BUCKET}-token length buckets,
    fill deterministic {_LB_BATCH}-doc batches in doc_id order within
    each bucket, and every batch pads to ITS OWN max length — the
    sequence-bucketing recipe every trainer uses because padding
    everything to the global max burns most of the FLOPs on pad tokens.
    The output prices the layout per bucket: real vs padded tokens and
    the waste ratio (what fraction of the batch tensor is padding).

    Deterministic end to end: bucket is a pure function of length, batch
    assignment is ``row_number()`` over ``doc_id`` within the bucket —
    reproducible run-over-run and engine-over-engine, never a hash
    partitioner's whim.

    Scale shape: one narrow length projection, ONE exchange (the bucket
    window and both aggregates share the bucket key; ~corpus/{_LB_BUCKET}
    distinct buckets).  The window ranks within buckets only — no global
    sort; at 100 TB the same plan emits the (doc → shard, batch) manifest
    the loader reads."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    t = docs.select("doc_id", F.size(tokens()).alias("n"))
    bucket = (F.ceil(F.col("n") / float(_LB_BUCKET)) * _LB_BUCKET).cast("bigint")
    w = Window.partitionBy("bucket").orderBy("doc_id")
    b = t.withColumn("bucket", bucket).withColumn(
        "batch_id", F.floor((F.row_number().over(w) - 1) / _LB_BATCH)
    )
    per_batch = b.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n").alias("max_len"),
        F.sum("n").alias("real_tokens"),
    )
    return per_batch.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("real_tokens").cast("bigint").alias("real_tokens"),
        F.sum(F.col("max_len") * F.col("n_docs")).cast("bigint").alias("padded_tokens"),
        F.round(
            1.0 - F.sum("real_tokens") / F.sum(F.col("max_len") * F.col("n_docs")),
            4,
        ).alias("waste_ratio"),
    )


# ---------------------------------------------------------------------------
# Span corruption — T5-style denoising pair generation, fully JVM-side
# ---------------------------------------------------------------------------

_SC_BLOCK = 5   # span width (tokens)
_SC_MOD = 4     # 1-in-4 blocks masked -> ~25% corruption rate


def _sc_mask_duck(i: str) -> str:
    h = duck_tid_sql("'sc:'", "doc_id", "':'", i, mod=_SC_MOD)
    return f"CASE WHEN {h} = 0 THEN 1 ELSE 0 END"


def _sc_mask_spark(i: str) -> str:
    h = tid_sql("'sc:'", "doc_id", "':'", i, mod=_SC_MOD)
    return f"case when {h} = 0 then 1 else 0 end"


@register(
    "corpus_span_corruption",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      FROM documents),
    b AS (SELECT doc_id, tk, len(tk) AS n,
                 CAST(ceil(len(tk)/{_SC_BLOCK}.0) AS INT) AS nb FROM t),
    m AS (SELECT doc_id, tk, n, nb,
            list_transform(range(nb), i -> {_sc_mask_duck('i')}) AS mk
          FROM b),
    s AS (SELECT *, list_transform(range(nb), i -> list_sum(mk[1:i+1])) AS cum
          FROM m),
    parts AS (SELECT doc_id, n, nb, mk, cum, tk,
       list_transform(range(nb), i ->
         CASE WHEN mk[i+1] = 1
              THEN '<extra_id_' || CAST(cum[i+1] AS VARCHAR) || '>'
              ELSE array_to_string(tk[i*{_SC_BLOCK}+1 :
                     least((i+1)*{_SC_BLOCK}, n)], ' ') END) AS in_parts,
       list_transform(range(nb), i ->
         CASE WHEN mk[i+1] = 1
              THEN '<extra_id_' || CAST(cum[i+1] AS VARCHAR) || '> '
                   || array_to_string(tk[i*{_SC_BLOCK}+1 :
                        least((i+1)*{_SC_BLOCK}, n)], ' ')
              ELSE NULL END) AS tgt_parts
       FROM s)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(range(nb), i ->
                  mk[i+1] * (least((i+1)*{_SC_BLOCK}, n) - i*{_SC_BLOCK})))
                AS BIGINT) AS n_masked,
           ROUND(list_sum(list_transform(range(nb), i ->
                  mk[i+1] * (least((i+1)*{_SC_BLOCK}, n) - i*{_SC_BLOCK})))::DOUBLE
                 / n, 4) AS mask_ratio,
           array_to_string(in_parts, ' ') AS input_text,
           COALESCE(array_to_string(list_filter(tgt_parts, x -> x IS NOT NULL),
                                    ' '), '') AS target_text
    FROM parts
    """,
)
def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption — the denoising-objective pair generator
    of an encoder-decoder pretraining pipeline: each document's token
    stream is cut into {_SC_BLOCK}-token blocks, a deterministic 1-in-
    {_SC_MOD} of them (md5 of doc_id x block — the portable-hash idiom)
    is replaced by ordered ``<extra_id_K>`` sentinels in the INPUT, and
    the TARGET is the sentinel-prefixed concatenation of exactly the
    masked spans.  The value hash covers both generated texts verbatim,
    so sentinel numbering, span boundaries, and tail-block clipping are
    all pinned cross-engine.

    Scale shape: entirely JVM-side higher-order functions (transform /
    aggregate / slice / array_join) over one scan — zero shuffles, zero
    Python, embarrassingly parallel; the corruption schedule is a pure
    function of (doc_id, block), so regeneration is reproducible across
    epochs and workers by construction (no RNG state to coordinate)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    B = _SC_BLOCK
    mask_i = _sc_mask_spark("i")
    return docs.selectExpr(
        "doc_id",
        r"split(trim(text), '\\s+') AS tk",
    ).selectExpr(
        "doc_id", "tk", "size(tk) AS n",
        f"cast(ceil(size(tk)/{B}.0) as int) AS nb",
    ).selectExpr(
        "doc_id", "tk", "n", "nb",
        f"transform(sequence(0, nb-1), i -> {mask_i}) AS mk",
    ).selectExpr(
        "doc_id", "tk", "n", "nb", "mk",
        "transform(sequence(0, nb-1), i -> "
        "aggregate(slice(mk, 1, i+1), 0, (a, x) -> a + x)) AS cum",
    ).selectExpr(
        "doc_id", "n",
        f"""cast(aggregate(transform(sequence(0, nb-1), i ->
              element_at(mk, i+1) * (least((i+1)*{B}, n) - i*{B})),
              0, (a, x) -> a + x) as bigint) AS n_masked""",
        f"""transform(sequence(0, nb-1), i ->
              case when element_at(mk, i+1) = 1
                   then concat('<extra_id_', cast(element_at(cum, i+1) as string), '>')
                   else array_join(slice(tk, i*{B}+1, least({B}, n - i*{B})), ' ')
              end) AS in_parts""",
        f"""filter(transform(sequence(0, nb-1), i ->
              case when element_at(mk, i+1) = 1
                   then concat('<extra_id_', cast(element_at(cum, i+1) as string), '> ',
                               array_join(slice(tk, i*{B}+1, least({B}, n - i*{B})), ' '))
              end), x -> x is not null) AS tgt_parts""",
    ).selectExpr(
        "doc_id",
        "cast(n as bigint) AS n_tokens",
        "n_masked",
        "round(cast(n_masked as double) / n, 4) AS mask_ratio",
        "array_join(in_parts, ' ') AS input_text",
        "array_join(tgt_parts, ' ') AS target_text",
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture — the multilingual/data-mixture standard
# (p_i proportional to p_raw^alpha; XLM-R / mT5 sampling, DoReMi's baseline)
# ---------------------------------------------------------------------------

_TM_ALPHAS = (0.3, 0.7)


@register(
    "corpus_temperature_mixture",
    oracle=f"""
    WITH s AS MATERIALIZED (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({DUCK_TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS t FROM s),
    p AS (
      SELECT s.*, s.n_tokens * 1.0 / tot.t AS p_raw,
             POWER(s.n_tokens * 1.0 / tot.t, {_TM_ALPHAS[0]}) AS u03,
             POWER(s.n_tokens * 1.0 / tot.t, {_TM_ALPHAS[1]}) AS u07
      FROM s, tot),
    z AS (SELECT SUM(u03) AS z03, SUM(u07) AS z07 FROM p)
    SELECT p.source, p.n_docs, p.n_tokens,
           ROUND(p.p_raw, 6)            AS p_raw,
           ROUND(p.u03 / z.z03, 6)      AS w_t03,
           ROUND(p.u07 / z.z07, 6)      AS w_t07,
           ROUND(p.u03 / z.z03 / p.p_raw, 4) AS upsample_t03,
           ROUND(p.u07 / z.z07 / p.p_raw, 4) AS upsample_t07
    FROM p, z
    """,
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights — the standard
    multilingual / multi-source pretraining mixture (XLM-R, mT5; the
    static baseline DoReMi reweights from): sampling probability
    proportional to (token share)^alpha, so low-resource sources are
    upsampled and head sources damped, with alpha in {{0.3, 0.7}} (the
    two published operating points).  Per source it bills the raw token
    share, both temperature weights, and the upsampling factor
    (weight / raw share) — the number that tells you how many effective
    epochs of a small source the schedule implies, i.e. its overfitting
    exposure.

    Plan/scale: ONE documents scan collapses to a |sources|-row
    aggregate (map-side partial, one keyed exchange); the temperature
    math runs on that tiny table with the normalizers as a broadcast
    1-row cross join.  The POWER(x, alpha) calls feed a final ROUND on
    both engines; their inputs are identical doubles built from exact
    integer ratios, so the published 4-6 dp are stable cross-engine."""
    docs = load_table(spark, sf_dir, "documents", columns=["source", "text"])
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.expr(TOKENS_SQL))).cast("bigint").alias("n_tokens"),
    )
    tot = s.agg(F.sum("n_tokens").alias("t"))
    p = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("t")).alias("p_raw"),
        F.pow(F.col("n_tokens") / F.col("t"), _TM_ALPHAS[0]).alias("u03"),
        F.pow(F.col("n_tokens") / F.col("t"), _TM_ALPHAS[1]).alias("u07"),
    )
    z = p.agg(F.sum("u03").alias("z03"), F.sum("u07").alias("z07"))
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.col("u03") / F.col("z03"), 6).alias("w_t03"),
        F.round(F.col("u07") / F.col("z07"), 6).alias("w_t07"),
        F.round(F.col("u03") / F.col("z03") / F.col("p_raw"), 4).alias("upsample_t03"),
        F.round(F.col("u07") / F.col("z07") / F.col("p_raw"), 4).alias("upsample_t07"),
    )


# ---------------------------------------------------------------------------
# Filter funnel — stage-by-stage attrition accounting for the cleaning chain
# ---------------------------------------------------------------------------

# the funnel's stages reuse the exact quality signals of text_quality_score /
# text_filter_verdicts so the attrition report prices the SAME rules the
# per-doc verdict log explains
from dataframework_spark.operators.text import _SW_ARRAY as _FUNNEL_SW_ARRAY
from dataframework_spark.operators.text import _SW_DUCK as _FUNNEL_SW_DUCK

_FUNNEL_STAGES = [
    "ingest",
    "length_band",
    "lexical_diversity",
    "stopword_band",
    "exact_dedup",
]


@register(
    "corpus_filter_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {DUCK_TEXT_FP_SQL} AS fp,
             {DUCK_TOKENS_SQL} AS toks
      FROM documents),
    f AS (
      SELECT doc_id, fp, len(toks) AS n,
             len(toks) BETWEEN 30 AND 400 AS p1,
             ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 4) >= 0.3 AS p2,
             ROUND(len(list_filter(toks, t -> t IN {_FUNNEL_SW_DUCK}))::DOUBLE
                   / len(toks), 4) BETWEEN 0.01 AND 0.5 AS p3
      FROM t),
    g AS (
      SELECT *, p1 AND p2 AS c2, p1 AND p2 AND p3 AS c3 FROM f),
    k AS (
      SELECT *, c3 AND doc_id = MIN(CASE WHEN c3 THEN doc_id END)
                  OVER (PARTITION BY fp) AS c4
      FROM g),
    a AS (
      SELECT COUNT(*) AS d0, CAST(SUM(n) AS BIGINT) AS t0,
             COUNT(*) FILTER (p1) AS d1, CAST(SUM(n) FILTER (p1) AS BIGINT) AS t1,
             COUNT(*) FILTER (c2) AS d2, CAST(SUM(n) FILTER (c2) AS BIGINT) AS t2,
             COUNT(*) FILTER (c3) AS d3, CAST(SUM(n) FILTER (c3) AS BIGINT) AS t3,
             COUNT(*) FILTER (c4) AS d4, CAST(SUM(n) FILTER (c4) AS BIGINT) AS t4
      FROM k)
    SELECT 0::BIGINT AS stage, 'ingest' AS stage_name, d0 AS n_docs, t0 AS n_tokens,
           ROUND(d0::DOUBLE / d0, 4) AS pct_docs FROM a
    UNION ALL
    SELECT 1, 'length_band', d1, t1, ROUND(d1::DOUBLE / d0, 4) FROM a
    UNION ALL
    SELECT 2, 'lexical_diversity', d2, t2, ROUND(d2::DOUBLE / d0, 4) FROM a
    UNION ALL
    SELECT 3, 'stopword_band', d3, t3, ROUND(d3::DOUBLE / d0, 4) FROM a
    UNION ALL
    SELECT 4, 'exact_dedup', d4, t4, ROUND(d4::DOUBLE / d0, 4) FROM a
    """,
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage attrition report for the cleaning chain — the funnel
    chart every pretraining-data run is steered by: after each CUMULATIVE
    filter stage (length band → lexical diversity → stopword band →
    exact dedup keeper), how many documents and tokens survive, and what
    fraction of the ingest that is.  ``text_filter_verdicts`` explains
    WHY an individual document dropped; this prices WHERE the corpus
    goes, which is what decides retuning a threshold.  The stages apply
    the IDENTICAL rules the verdict log applies — the full 30..400 token
    band (too_long is a reject reason there, so it must cost docs here)
    and the SAME 4-dp-rounded ratios the verdicts compare — so stage-3
    survivors equal ``COUNT(*) FILTER (keep)`` from the verdict log
    exactly (reconciled by test; r6 ADVICE closed the >400-token and
    rounding-boundary divergence channels).

    Scale shape: one scan computes every per-doc signal narrowly; the
    only exchange is the exact-dedup keeper window on the md5 digest
    (16-byte key, same as ``dedup_exact``) — the keeper pick is a
    conditional ``MIN(doc_id) FILTER (surviving)`` inside that window,
    so no second pass and no join-back; then ONE constant-size
    aggregate folds all five stages' doc/token counts at once
    (conditional sums partial-reduce map-side), exploded to the 5-row
    funnel.  At 100 TB: one shuffle of digests, one 5-row result."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    t = docs.withColumn("toks", tokens())
    n = F.size("toks")
    nd = n.cast("double")
    fp = text_fp()
    p1 = n.between(30, 400)
    p2 = F.round(F.size(F.array_distinct("toks")) / nd, 4) >= 0.3
    p3 = F.round(
        F.expr(f"size(filter(toks, t -> array_contains({_FUNNEL_SW_ARRAY}, t)))") / nd,
        4,
    ).between(0.01, 0.5)
    g = t.select(
        "doc_id",
        fp.alias("fp"),
        n.alias("n"),
        p1.alias("p1"),
        (p1 & p2).alias("c2"),
        (p1 & p2 & p3).alias("c3"),
    )
    w = Window.partitionBy("fp")
    k = g.withColumn(
        "c4",
        F.col("c3")
        & (F.col("doc_id") == F.min(F.when(F.col("c3"), F.col("doc_id"))).over(w)),
    )
    conds = [F.lit(True), F.col("p1"), F.col("c2"), F.col("c3"), F.col("c4")]
    aggs = []
    for i, c in enumerate(conds):
        aggs += [
            F.count(F.when(c, 1)).alias(f"d{i}"),
            F.sum(F.when(c, F.col("n"))).cast("bigint").alias(f"t{i}"),
        ]
    a = k.agg(*aggs)
    rows = a.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("bigint").alias("stage"),
                        F.lit(name).alias("stage_name"),
                        F.col(f"d{i}").alias("n_docs"),
                        F.col(f"t{i}").alias("n_tokens"),
                        F.round(F.col(f"d{i}").cast("double") / F.col("d0"), 4).alias(
                            "pct_docs"
                        ),
                    )
                    for i, name in enumerate(_FUNNEL_STAGES)
                ]
            )
        ).alias("s")
    )
    return rows.select("s.stage", "s.stage_name", "s.n_docs", "s.n_tokens", "s.pct_docs")


# ---------------------------------------------------------------------------
# Epoch planning under a token budget — the repetition-exposure guardrail
# ---------------------------------------------------------------------------

_EPOCH_BUDGET_X = 4  # training budget as a multiple of the corpus tokens
_EPOCH_ALPHA_SQRT = True  # mixture = sqrt-share (temperature alpha = 0.5)
_EPOCH_CAP = 4.0  # Muennighoff et al. 2023: ~4 epochs before returns decay


@register(
    "corpus_epoch_plan",
    oracle=f"""
    WITH s AS MATERIALIZED (
      SELECT source, CAST(SUM(len({DUCK_TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    f AS (SELECT source, n_tokens,
                 CAST(ROUND(SQRT(n_tokens) * 1000000, 0) AS BIGINT) AS si
          FROM s WHERE n_tokens > 0),
    z AS (SELECT SUM(si) AS zt, SUM(n_tokens) AS tt FROM f)
    SELECT f.source, f.n_tokens,
           ROUND(f.si * 1.0 / z.zt, 6)  AS weight,
           CAST(ROUND({_EPOCH_BUDGET_X} * z.tt * (f.si * 1.0 / z.zt), 0)
                AS BIGINT)              AS planned_tokens,
           ROUND({_EPOCH_BUDGET_X} * z.tt * (f.si * 1.0 / z.zt)
                 / f.n_tokens, 4)       AS epochs,
           ROUND({_EPOCH_BUDGET_X} * z.tt * (f.si * 1.0 / z.zt)
                 / f.n_tokens, 4) > {_EPOCH_CAP} AS over_exposed
    FROM f CROSS JOIN z
    """,
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch plan under a fixed training-token budget — the budgeting
    report a pretraining run is provisioned from: given a budget of
    {_EPOCH_BUDGET_X}× the corpus and sqrt-share mixture weights
    (temperature α = 0.5, between ``corpus_temperature_mixture``'s two
    published operating points), how many tokens each source is asked
    for, how many EPOCHS of that source that implies, and whether it
    crosses the ~{_EPOCH_CAP}-epoch repetition cap (Muennighoff et al.
    2023, "Scaling Data-Constrained Language Models": returns from
    repeated data decay rapidly past ~4 epochs).  The sibling mixture
    query prices relative weights; this one prices the ABSOLUTE
    consequence of a budget — the over_exposed flag is what forces a
    mixture retune or more data acquisition.

    Cross-engine exactness: sqrt weights are fixed-pointed to 1e-6
    integers and normalized by their EXACT integer sum (no float
    accumulation across sources); every published float is a single
    identical expression over exact integers, rounded before compare —
    the over_exposed verdict compares the 4-dp-ROUNDED epochs value so
    it can never straddle an ulp.  Zero-token sources are excluded
    before the normalizer on both engines (their epochs would otherwise
    be an engine-divergent x/0).

    Scale shape: one documents scan collapses map-side to a
    |sources|-row aggregate; everything downstream is constant-size
    with a broadcast 1-row normalizer."""
    docs = load_table(spark, sf_dir, "documents", columns=["source", "text"])
    s = docs.groupBy("source").agg(
        F.sum(F.size(F.expr(TOKENS_SQL))).cast("bigint").alias("n_tokens")
    )
    # a source whose documents tokenize to zero tokens would make the
    # epochs division planned/0 rely on non-ANSI x/0 NULL semantics and
    # turn over_exposed into NULL instead of a verdict — exclude it from
    # the plan BEFORE the normalizer, identically on both engines (a
    # zero-token source has nothing to train on and no epoch exposure)
    s = s.where(F.col("n_tokens") > 0)
    f = s.withColumn(
        "si", F.round(F.sqrt(F.col("n_tokens")) * 1_000_000, 0).cast("bigint")
    )
    z = f.agg(F.sum("si").alias("zt"), F.sum("n_tokens").alias("tt"))
    w = F.col("si") * 1.0 / F.col("zt")
    planned = _EPOCH_BUDGET_X * F.col("tt") * w
    epochs = F.round(planned / F.col("n_tokens"), 4)
    return f.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(w, 6).alias("weight"),
        F.round(planned, 0).cast("bigint").alias("planned_tokens"),
        epochs.alias("epochs"),
        (epochs > _EPOCH_CAP).alias("over_exposed"),
    )
