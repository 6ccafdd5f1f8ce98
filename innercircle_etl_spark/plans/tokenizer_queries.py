"""Tokenizer-training queries over the documents table (north-star
extension family: BPE statistics and merge learning).

Byte-pair-encoding training (Sennrich et al. 2016, public) is the
canonical tokenizer-construction step of an LLM data pipeline, and
its scale shape fits Spark exactly the way production trainers work:
ONE corpus-scale pass builds the word-frequency table (Zipf-bounded,
map-side combined), and every subsequent statistic — pair counts,
merge selection, merge application — runs over the DISTINCT-word
table, whose size is vocabulary-bounded and independent of corpus
row count. At 100 TB the word-count shuffle is the only stage that
sees the data; the training loop touches megabytes.

Cross-engine exactness: counts are BIGINT, the merge argmax tiebreak
is (count DESC, pair ASC) in both engines, and merge APPLICATION
uses a delimited-string ``replace`` — ``|a||b|`` -> ``|ab|`` over
``|``-fenced symbol strings — which both Spark and DuckDB scan
left-to-right non-overlapping, i.e. exactly reference BPE's greedy
merge order (pair COUNTING counts all adjacent occurrences including
overlaps, also matching the reference implementation).

Reference parity: beyond-reference (north-star extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from innercircle_etl_spark.plans.registry import load, register, release

_TOP_PAIRS = 20
_N_MERGES = 5

# The standard alphabetic pre-tokenizer class: words outside it are
# dropped from training (and ``|`` can therefore never collide with
# the symbol-fence character used by the merge representation).
_WORD_RE = "^[a-z]+$"


def word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one corpus-scale pass: whitespace pre-tokenize + per-word
    counts. Map-side combine does the heavy lifting (Zipf: the hot
    words collapse in the map stage); output is vocabulary-bounded."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike(_WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )


_PAIR_STATS_ORACLE = f"""
WITH words AS (
    SELECT w AS word, COUNT(*) AS wf
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE regexp_full_match(w, '[a-z]+')
    GROUP BY w
),
pairs AS (
    SELECT substring(word, i, 2) AS pair, SUM(wf) AS pair_count
    FROM words, unnest(generate_series(1, length(word) - 1)) AS t(i)
    WHERE length(word) >= 2
    GROUP BY 1
)
SELECT pair, CAST(pair_count AS BIGINT) AS pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS INT)
         AS rank
FROM pairs
ORDER BY pair_count DESC, pair ASC
LIMIT {_TOP_PAIRS}
"""


@register("tok_bpe_pair_stats", oracle=_PAIR_STATS_ORACLE)
def tok_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE pair statistics: the inner statistic of tokenizer training
    — adjacent character-pair frequencies weighted by word frequency
    (the iteration-0 ``get_stats`` of Sennrich et al.'s reference
    trainer), top-20 candidates with deterministic
    (count DESC, pair ASC) ranking.

    Plan/scale: the word-frequency groupBy is the only corpus-scale
    stage; the pair explode + count runs over distinct words
    (vocabulary-bounded — at 100 TB this stage is megabytes), and the
    top-K is a TakeOrderedAndProject, never a global sort. The rank
    window runs AFTER the limit, over 20 rows."""
    words = word_freqs(spark, sf_dir)
    pairs = (
        words.filter(F.length("word") >= 2)
        .select(
            "wf",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substring(word, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wf").alias("pair_count"))
    )
    top = pairs.orderBy(
        F.col("pair_count").desc(), F.col("pair").asc()
    ).limit(_TOP_PAIRS)
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def _bpe_merge_layers(n_merges: int) -> str:
    """The shared WITH-clause body: w0 (fenced word table) plus one
    count/argmax/apply layer per merge. All three tokenizer oracles
    compose these layers rather than slicing each other's text."""
    layers = [
        """
w0 AS (
    SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS sym_str, wf
    FROM (
        SELECT w AS word, COUNT(*) AS wf
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE regexp_full_match(w, '[a-z]+')
        GROUP BY w
    )
)"""
    ]
    for i in range(1, n_merges + 1):
        layers.append(
            f"""
c{i} AS (
    SELECT syms[j] AS a, syms[j + 1] AS b, SUM(wf) AS cnt
    FROM (SELECT string_split(trim(sym_str, '|'), '||') AS syms, wf
          FROM w{i - 1}),
         unnest(generate_series(1, len(syms) - 1)) AS t(j)
    WHERE len(syms) >= 2
    GROUP BY 1, 2
),
m{i} AS (SELECT a, b, cnt FROM c{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
w{i} AS (
    SELECT replace(sym_str, '|' || a || '||' || b || '|',
                   '|' || a || b || '|') AS sym_str, wf
    FROM w{i - 1}, m{i}
)"""
        )
    return "WITH " + ",".join(layers)


def _bpe_merges_oracle(n_merges: int) -> str:
    """Unrolled n-layer DuckDB mirror of the merge loop: each layer
    recounts pairs over the fenced symbol strings, picks the argmax
    with the same tiebreak, and applies it with the same left-to-
    right ``replace``."""
    finals = [
        f"SELECT CAST({i} AS INT) AS step, a AS pair_a, b AS pair_b,"
        f" a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    ]
    return (
        _bpe_merge_layers(n_merges)
        + "\n"
        + "\nUNION ALL\n".join(finals)
    )


@register("tok_bpe_merges", oracle=_bpe_merges_oracle(_N_MERGES))
def tok_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING: learn the first 5 merges — the
    actual artifact (merges.txt) a BPE tokenizer trainer emits. Each
    iteration counts adjacent symbol pairs over the distinct-word
    table (frequency-weighted, overlaps counted — reference
    semantics), selects the argmax pair with the deterministic
    (count DESC, a ASC, b ASC) tiebreak, and applies it to every
    word via the fenced-string replace (left-to-right greedy —
    reference semantics; see module doc).

    Distribution/scale: the merge argmax is a distributed
    ``min(struct(-cnt, a, b))`` aggregate — no window over the pair
    space — whose single result row is collected to the driver
    (bounded: exactly 1 row per step; the previous broadcast-join
    form collected the same row internally and then re-shipped it to
    every task). The collected pair is inlined as LITERALS into the
    next iteration's fenced-string replace, so merge application is
    a pure narrow projection over the vocabulary-bounded word table:
    no per-step broadcast exchange, no per-step localCheckpoint of
    the word table (the replace chain over the ONE pinned base table
    is recomputed per step — O(vocab x step) map work, cheaper than
    materializing the table 5 times; r16 optimization, guide §2.4).
    The output unions 5 constant-folded literal frames, so the
    iterative lineage never re-enters the output plan.

    Oracle: the same loop unrolled as 5 CTE layers —
    exact BIGINT counts and the shared left-to-right replace make
    every layer hash-identical across engines."""
    merge_rows, _, _ = _bpe_train(spark, sf_dir, _N_MERGES)
    out = merge_rows[0]
    for r in merge_rows[1:]:
        out = out.unionByName(r)
    return out


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int,
    with_totals: bool = False,
    keep_words: bool = False,
):
    """Shared BPE training loop (see tok_bpe_merges for semantics):
    returns ``(merge_rows, total_rows, words)`` — per-step 1-row
    LITERAL merge frames (constant-folded; no lineage), plus the
    final (sym_str, wf) word table when ``keep_words`` (pinned;
    callers own its release), else None. ``total_rows`` is populated
    only when ``with_totals`` (one extra vocabulary-bounded aggregate
    per step, eagerly pinned — totals depend on the base word pin,
    which this function releases before returning); either flag makes
    the loop apply the final merge too, which the merges-only path
    skips as dead work; total_rows[0] is the pre-merge
    (character-level) token count with a NULL merged symbol.

    r16 optimization (guide §2.4 / §1.2 "remove passes"): the
    per-step argmax row is COLLECTED (1 bounded row — the old
    broadcast join collected the same row on the driver and then
    re-shipped it) and inlined as literals, so the per-step word
    table is a lazy narrow replace-chain over the ONE pinned base
    instead of 5 separately checkpointed tables: per step this drops
    one full-table materialization job and one broadcast exchange,
    and recomputing k replace layers costs O(vocab x k) map work.
    Outputs are bit-identical: same BIGINT counts, same
    (count DESC, a, b) tiebreak, same fenced replace semantics
    (a NULL argmax on a degenerate corpus still nulls the pattern —
    F.lit(None) rides through concat/replace exactly like the old
    null join columns)."""
    def _tokens() -> F.Column:
        return F.sum(
            F.col("wf")
            * F.size(F.split(F.expr("btrim(sym_str, '|')"), r"\|\|"))
        ).alias("corpus_tokens")

    def _s(v):  # typed literal: None must stay a STRING null
        return F.lit(v).cast("string")

    base = (
        word_freqs(spark, sf_dir)
        .select(
            F.regexp_replace("word", "(.)", "|$1|").alias("sym_str"), "wf"
        )
        .localCheckpoint(eager=True)
    )
    words = base
    merge_rows = []
    total_rows = []
    if with_totals:
        total_rows.append(
            words.agg(_tokens())
            .select(
                F.lit(0).cast("int").alias("step"),
                F.lit(None).cast("string").alias("merged"),
                F.col("corpus_tokens"),
            )
            .localCheckpoint(eager=True)
        )
    for step in range(1, n_merges + 1):
        counts = (
            words.select(
                "wf",
                F.split(F.expr("btrim(sym_str, '|')"), r"\|\|").alias(
                    "syms"
                ),
            )
            .filter(F.size("syms") >= 2)
            .select(
                "wf",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i - 1] AS a, syms[i] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wf").alias("cnt"))
        )
        # distributed argmax with the oracle's exact tiebreak:
        # min(struct(-cnt, a, b)) == (cnt DESC, a ASC, b ASC) LIMIT 1;
        # exactly one bounded row crosses to the driver per step
        row = (
            counts.agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("a"), F.col("b")
                    )
                ).alias("m")
            )
            .select(
                F.col("m.a").alias("a"),
                F.col("m.b").alias("b"),
                (-F.col("m.nc")).alias("cnt"),
            )
            .collect()[0]
        )
        a_s, b_s, cnt_v = row["a"], row["b"], row["cnt"]
        merge_rows.append(
            spark.range(1).select(
                F.lit(step).cast("int").alias("step"),
                _s(a_s).alias("pair_a"),
                _s(b_s).alias("pair_b"),
                F.concat(_s(a_s), _s(b_s)).alias("merged"),
                F.lit(cnt_v).cast("long").alias("pair_count"),
            )
        )
        if step == n_merges and not (with_totals or keep_words):
            break  # the last apply would be dead work
        words = words.select(
            F.replace(
                F.col("sym_str"),
                F.concat(
                    F.lit("|"), _s(a_s), F.lit("||"), _s(b_s), F.lit("|")
                ),
                F.concat(F.lit("|"), _s(a_s), _s(b_s), F.lit("|")),
            ).alias("sym_str"),
            "wf",
        )
        if with_totals:
            total_rows.append(
                words.agg(_tokens())
                .select(
                    F.lit(step).cast("int").alias("step"),
                    F.concat(_s(a_s), _s(b_s)).alias("merged"),
                    F.col("corpus_tokens"),
                )
                .localCheckpoint(eager=True)
            )
    if keep_words:
        # pin the final table once (callers own its release), then
        # drop the base — the replace chain is no longer needed
        final_words = words.localCheckpoint(eager=True)
        release(base)
        return merge_rows, total_rows, final_words
    # merge rows are literals and totals are pinned — the base word
    # table can be released before the caller materializes them
    release(base)
    return merge_rows, total_rows, None


def _bpe_compression_oracle(n_merges: int) -> str:
    """The merge layers plus a per-layer corpus token total — the
    compression curve."""
    with_part = _bpe_merge_layers(n_merges)
    totals = ",".join(
        f"""
t{i} AS (
    SELECT CAST(SUM(wf * len(string_split(trim(sym_str, '|'), '||')))
           AS BIGINT) AS corpus_tokens
    FROM w{i}
)"""
        for i in range(0, n_merges + 1)
    )
    finals = [
        "SELECT CAST(0 AS INT) AS step, CAST(NULL AS VARCHAR) AS merged,"
        " corpus_tokens FROM t0"
    ] + [
        f"SELECT CAST({i} AS INT) AS step,"
        f" (SELECT a || b FROM m{i}) AS merged, corpus_tokens FROM t{i}"
        for i in range(1, n_merges + 1)
    ]
    return with_part + "," + totals + "\n" + "\nUNION ALL\n".join(finals)


@register("tok_bpe_compression", oracle=_bpe_compression_oracle(_N_MERGES))
def tok_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE compression curve: corpus token count after each of the
    first 5 learned merges — the EVALUATION half of tokenizer
    training (a tokenizer is judged by tokens-per-corpus; every
    merge must strictly shrink it, and the curve's slope is how
    trainers pick vocabulary size). Step 0 is the character-level
    baseline; step k applies the k-th merge from the shared
    ``_bpe_train`` loop (extracted from tok_bpe_merges with zero
    plan change to the merges output).

    The per-step total is one vocabulary-bounded aggregate
    (sum over distinct words of wf * |symbols|) — corpus-size-
    independent like the rest of the loop; the output unions the
    6 pinned 1-row frames.

    Reference parity: beyond-reference (north-star extension)."""
    _, total_rows, _ = _bpe_train(
        spark, sf_dir, _N_MERGES, with_totals=True
    )
    out = total_rows[0]
    for r in total_rows[1:]:
        out = out.unionByName(r)
    return out


def _apply_vocab_oracle(n_merges: int) -> str:
    """The merge layers to w{n}, then corpus-wide application:
    word -> symbol count via the reconstructed word key (stripping
    the fences reverses the encoding — symbols carry no '|')."""
    return (
        _bpe_merge_layers(n_merges)
        + f""",
vocab AS (
    SELECT replace(sym_str, '|', '') AS word,
           CAST(len(string_split(trim(sym_str, '|'), '||')) AS BIGINT)
             AS n_toks
    FROM w{n_merges}
),
dw AS (
    SELECT doc_id, w AS word
    FROM documents, unnest(string_split(text, ' ')) AS t(w)
    WHERE regexp_full_match(w, '[a-z]+')
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars_alpha,
       CAST(SUM(v.n_toks) AS BIGINT) AS n_tokens_bpe,
       CAST((SUM(length(dw.word)) * 1000) // SUM(v.n_toks) AS BIGINT)
         AS compression_milli
FROM dw JOIN vocab v USING (word)
GROUP BY doc_id
"""
    )


@register("tok_apply_vocab", oracle=_apply_vocab_oracle(_N_MERGES))
def tok_apply_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer corpus-wide: per-document token
    counts under the 5 learned merges — the deployment half that
    turns the trainer into a data-pipeline stage (per-doc token
    budgets feed text_pack_shards / samp_* mixers; tokenization IS
    a dictionary lookup once the vocab is trained). The word key is
    reconstructed from the fenced symbol string (symbols contain no
    ``|``, so stripping fences reverses the encoding) — the word
    table never needed to carry the raw word through the loop.

    Plan/scale: training is the vocabulary-bounded loop; application
    is ONE corpus pass — explode words, hash-join the BROADCAST
    word->token-count map (vocab-bounded by construction), one
    doc-keyed sum shuffle. On unseen text a real deployment adds an
    OOV fallback arm (char count), which this fixture cannot
    exercise because train corpus == applied corpus by design.

    Reference parity: beyond-reference (north-star extension)."""
    _, _, words = _bpe_train(
        spark, sf_dir, _N_MERGES, keep_words=True
    )
    vocab = words.select(
        F.regexp_replace("sym_str", r"\|", "").alias("word"),
        F.size(F.split(F.expr("btrim(sym_str, '|')"), r"\|\|"))
        .cast("long")
        .alias("n_toks"),
    )
    docs = load(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word").rlike(_WORD_RE))
    return (
        dw.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars_alpha"),
            F.sum("n_toks").alias("n_tokens_bpe"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars_alpha",
            "n_tokens_bpe",
            F.expr("(n_chars_alpha * 1000) div n_tokens_bpe").alias(
                "compression_milli"
            ),
        )
    )
