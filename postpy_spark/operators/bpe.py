"""Byte-pair-encoding tokenizer training (Sennrich, Haddow & Birch 2015,
"Neural Machine Translation of Rare Words with Subword Units",
arXiv:1508.07909) as a Spark iteration over the distinct word vocabulary.

Scale design — the property that makes BPE trainable on a 100 TB corpus:
the only corpus-sized work is ONE tokenize + groupBy pass producing
(word, count).  Every merge round after that runs on the VOCABULARY, which
grows sublinearly with corpus size (Heaps' law), weighted by the word
counts.  Per round:

- one adjacent-pair weighted aggregate over the vocab (map-side combined);
- one ``TakeOrderedAndProject`` argmax on (count DESC, left ASC, right ASC)
  — a driver-visible single row, the deterministic tie-break both the
  reference Python implementation and the tests share;
- one JVM fold (`_merge_adjacent`) rewriting ONLY the words that contain
  the winning pair — greedy, left-to-right, non-overlapping, the standard
  BPE application order.  No Python touches the vocab.

State is the (word, syms, cnt) frame; each round's frame is persisted and
the previous round's evicted, with ``localCheckpoint`` every
``CHECKPOINT_EVERY`` rounds to truncate lineage.  Words carry the classic
``</w>`` end-of-word marker so merges distinguish suffixes from mid-word
units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

END_OF_WORD = "</w>"
CHECKPOINT_EVERY = 4


# The per-round expressions below are generated as ONE SQL string handed to
# F.expr rather than through the Column DSL: the merge fold alone is ~60
# Column-method calls, each a Py4J round-trip, and bpe_train rebuilds it
# EVERY round — measured 0.25-0.40 s of pure driver time per round at sf0.1
# (~3.5 s of the 12-round train).  One parse call builds the identical tree
# (same zip/slice shifted copy, same CASE/struct accumulator shape) — the
# same fix §1 of OPTIMIZATION_r14.md applied to the PassJoin probe.
# text_bpe_planted's DuckDB oracle hash-checks the full merge table, and the
# pure-Python-reference pytest pins merge-list equality, so the rewrite is
# exactly attested end-to-end.


def _sql_str(s: str) -> str:
    """Escape an arbitrary symbol as a Spark SQL string literal (default
    parser mode: backslash IS an escape character, unlike the DuckDB-oracle
    regex-literal convention in CLAUDE.md)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _syms_col(word_sql: str):
    """Initial symbol sequence: characters + the end-of-word marker.
    Takes a SQL fragment (usually a column name) naming the word.

    ``split('', '')`` returns ``[""]`` in Spark while Python's ``list('')``
    is ``[]`` — filter the empty symbol so an empty/whitespace-only word
    yields ``["</w>"]`` on both engines (keeps merge tables identical on
    corpora containing blank documents)."""
    return F.expr(
        f"concat(filter(split({word_sql}, ''), s -> s != ''), "
        f"array({_sql_str(END_OF_WORD)}))"
    )


def _zip_sql(syms_sql: str) -> str:
    """array<struct<a,b>> zipping each symbol with its successor (the last
    element pairs with NULL).  The shifted copy is slice-based; slice
    length 0 is legal."""
    return (
        f"zip_with({syms_sql}, concat(slice({syms_sql}, 2, "
        f"greatest(size({syms_sql}) - 1, 0)), array(CAST(NULL AS STRING))), "
        "(a, b) -> struct(a, b))"
    )


def _adjacent_pairs_sql(syms_sql: str) -> str:
    """array<struct<a,b>> of adjacent symbol pairs (empty for 1-symbol
    words)."""
    return f"filter({_zip_sql(syms_sql)}, p -> p.b IS NOT NULL)"


def _adjacent_pairs(syms_sql: str):
    return F.expr(_adjacent_pairs_sql(syms_sql))


def _contains_pair(syms_sql: str, left: str, right: str):
    """Boolean: does the symbol sequence contain the adjacent pair?"""
    return F.expr(
        f"exists({_adjacent_pairs_sql(syms_sql)}, "
        f"p -> p.a = {_sql_str(left)} AND p.b = {_sql_str(right)})"
    )


def _merge_adjacent(syms_sql: str, left: str, right: str, joined: str):
    """Greedy left-to-right replacement of adjacent (left, right) by
    ``joined`` — one JVM fold; the accumulator's ``skip`` flag consumes the
    right half of a merged pair so overlapping occurrences ("aaa" with
    (a,a)) merge non-overlapping, exactly like reference BPE."""
    l, r, j = _sql_str(left), _sql_str(right), _sql_str(joined)
    return F.expr(
        f"aggregate({_zip_sql(syms_sql)}, "
        "struct(CAST(array() AS array<string>) AS out, false AS skip), "
        "(acc, x) -> CASE "
        "WHEN acc.skip THEN struct(acc.out AS out, false AS skip) "
        f"WHEN x.a = {l} AND x.b IS NOT NULL AND x.b = {r} "
        f"THEN struct(concat(acc.out, array({j})) AS out, true AS skip) "
        "ELSE struct(concat(acc.out, array(x.a)) AS out, false AS skip) "
        "END, "
        "acc -> acc.out)"
    )


def bpe_train(
    word_counts: DataFrame,
    n_merges: int = 12,
    word_col: str = "w",
    count_col: str = "cnt",
    return_vocab: bool = False,
):
    """Learn ``n_merges`` BPE merges from a (word, count) vocabulary frame.

    Returns the merge table as a driver-side list of dicts
    ``{rank, left, right, merged, pair_count}`` — bounded at n_merges rows,
    the natural driver artifact (it IS the tokenizer).  Stops early when no
    adjacent pair remains.  With ``return_vocab=True`` also returns the
    trained per-word segmentation frame (w, syms, cnt) — the APPLY
    artifact: tokenizing a corpus is then a plain join of its tokens
    against this vocab, never a re-derivation per document.  The returned
    frame is eagerly localCheckpoint-ed so it survives the loop's persist
    eviction without replaying n_merges fold stages."""
    vocab = word_counts.select(
        F.col(word_col).alias("w"),
        _syms_col(f"`{word_col}`").alias("syms"),
        F.col(count_col).cast("bigint").alias("cnt"),
    ).persist()
    merges: list[dict] = []
    try:
        for rank in range(1, n_merges + 1):
            top = (
                vocab.select(F.explode(_adjacent_pairs("syms")).alias("p"), "cnt")
                .groupBy(F.col("p.a").alias("left"), F.col("p.b").alias("right"))
                .agg(F.sum("cnt").alias("pair_count"))
                .orderBy(F.col("pair_count").desc(), "left", "right")
                .limit(1)
                .collect()
            )
            if not top:
                break
            r = top[0]
            joined = r["left"] + r["right"]
            merges.append(
                {
                    "rank": rank,
                    "left": r["left"],
                    "right": r["right"],
                    "merged": joined,
                    "pair_count": r["pair_count"],
                }
            )
            new_vocab = vocab.select(
                "w",
                F.when(
                    _contains_pair("syms", r["left"], r["right"]),
                    _merge_adjacent("syms", r["left"], r["right"], joined),
                )
                .otherwise(F.col("syms"))
                .alias("syms"),
                "cnt",
            )
            if rank % CHECKPOINT_EVERY == 0:
                new_vocab = new_vocab.localCheckpoint(eager=False)
            new_vocab = new_vocab.persist()
            old, vocab = vocab, new_vocab
            old.unpersist()
        if return_vocab:
            final_vocab = vocab.localCheckpoint(eager=True)
    finally:
        vocab.unpersist()
    return (merges, final_vocab) if return_vocab else merges


def merges_df(spark: SparkSession, merges: list[dict]) -> DataFrame:
    """Driver merge list -> DataFrame (rank, left, right, merged,
    pair_count), the query-able artifact."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("rank", LongType()),
            StructField("left", StringType()),
            StructField("right", StringType()),
            StructField("merged", StringType()),
            StructField("pair_count", LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"], int(m["pair_count"]))
            for m in merges
        ],
        schema,
    )


def bpe_reference(
    word_counts: dict[str, int], n_merges: int, return_vocab: bool = False
):
    """Independent pure-Python BPE (dict-based, same </w> marker and
    (count DESC, left ASC, right ASC) tie-break) — the test oracle for
    ``bpe_train``; deliberately shares no code with the Spark path.  With
    ``return_vocab=True`` also returns {word: [subword, ...]}."""
    words = {w: tuple(list(w) + [END_OF_WORD]) for w in word_counts}
    vocab = {
        tuple(list(w) + [END_OF_WORD]): int(c) for w, c in word_counts.items()
    }
    out: list[dict] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        joined = left + right
        def apply(syms):
            merged = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    merged.append(joined)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            return tuple(merged)

        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            key = apply(syms)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
        words = {w: apply(s) for w, s in words.items()}
        out.append(
            {
                "rank": rank,
                "left": left,
                "right": right,
                "merged": joined,
                "pair_count": n,
            }
        )
    if return_vocab:
        return out, {w: list(s) for w, s in words.items()}
    return out
