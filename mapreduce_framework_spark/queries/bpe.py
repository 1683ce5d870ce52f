"""In-plan BPE tokenizer: TRAIN (learned merge table) + APPLY (per-doc
token counts) as pure DataFrame plans — round-9 verdict task #3,
closing the last simulated seam in the text family (queries/
textstats.py's ``token_count`` is a "BPE-ish regex" LENGTH ESTIMATE;
this is the real thing: greedy most-frequent-pair merges learned from
the corpus, then applied).

Algorithm (Sennrich et al. ACL'16, the standard subword-BPE loop):

1. words0: distinct corpus words with frequencies; each word becomes a
   spaced symbol string ``c1 c2 ... cn </w>`` (character symbols plus
   the end-of-word marker, so merges never cross word boundaries and
   word-final symbols are distinct from word-internal ones).
2. round r: count adjacent symbol pairs weighted by word frequency;
   the most frequent pair (ties broken by pair text — deterministic)
   becomes merge r; apply it to every word's symbol string.
3. after N rounds the merge table IS the tokenizer; applying it to a
   document = per-word symbol counts summed.

Merge application is ``replace(' '||s||' ', ' a b ', ' ab ')`` —
single-pass leftmost non-overlapping, the ONE semantics Spark's
``F.replace`` and DuckDB's ``replace`` implement identically (verified
byte-for-byte on the self-overlap case ``a a a a``: both consume the
shared delimiter and merge alternate pairs per pass).  That differs
from greedy-rescan BPE only on immediately-adjacent repeats of the
same pair — deterministic, documented, and identical across engines,
which is what the oracle gate needs.

Spark shape: the iteration state (the WORDS frame) is vocab-sized, not
corpus-sized — one corpus-wide shuffle builds words0, then every merge
round is a vocab-sized pair aggregate + a TakeOrdered(1) + a broadcast
one-row join, the kmeans/power-iteration unrolled pattern with an eager
``materialize.checkpoint`` per round (the frame is referenced twice per
round — by the pair count and by the apply — so the checkpoint both
truncates the would-be-exponential lineage and avoids recomputation).
At 100 TB the vocab frame is millions of rows against a corpus of
trillions of tokens: training cost is N vocab-sized aggregates, and
the apply is one corpus scan joined to the final vocab (broadcast at
dictionary sizes, AQE decides).

The DuckDB oracle unrolls the same N rounds as stacked CTEs —
``AS MATERIALIZED``, because each round references its predecessor
twice and inlined CTEs would re-evaluate the chain exponentially (3^N;
measured: the inlined 8-round oracle did not finish in 120 s, the
materialized one runs in 0.1 s).

Reference anchor: the reference tokenizes by punctuation-stripping
whitespace split only (w7/src/python/map.py:9-18) — subword
tokenization is part of the forward LLM-pipeline surface, not
reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.io import table
from mapreduce_framework_spark.operators.materialize import checkpoint
from mapreduce_framework_spark.registry import register

N_MERGES = 8
_EOW = "</w>"
# Never-matching sentinel for the no-pairs-left round: replace() with a
# NULL pattern would null the whole string in both engines.
_NO_MATCH = "\x01"


def _oracle_ctes(n_rounds: int) -> str:
    """The shared training CTE chain (words0..wordsN, m1..mN)."""
    parts = [
        f"""words0 AS MATERIALIZED (
  SELECT word, count(*) AS freq,
         array_to_string(regexp_extract_all(word, '.'), ' ') || ' {_EOW}' AS s
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
)"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"""pairs{r} AS MATERIALIZED (
  SELECT sym[i.i] AS a, sym[i.i+1] AS b, sum(freq) AS cnt
  FROM (SELECT freq, string_split(s, ' ') AS sym FROM words{r - 1}) t,
       LATERAL (SELECT unnest(range(1, len(sym))) AS i) i
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"m{r} AS MATERIALIZED "
            f"(SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""words{r} AS MATERIALIZED (
  SELECT word, freq,
         trim(replace(' ' || s || ' ',
              coalesce((SELECT ' '||a||' '||b||' ' FROM m{r}), chr(1)),
              coalesce((SELECT ' '||a||b||' ' FROM m{r}), chr(1)))) AS s
  FROM words{r - 1}
)"""
        )
    return ",\n".join(parts)


def _merges_oracle(n_rounds: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, a AS left_sym, b AS right_sym, "
        f"a||b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM m{r}"
        for r in range(1, n_rounds + 1)
    )
    return (
        "WITH "
        + _oracle_ctes(n_rounds)
        + f",\nmerges AS ({union})\n"
        + "SELECT merge_rank, left_sym, right_sym, merged, pair_count FROM merges"
    )


def _token_count_oracle(n_rounds: int) -> str:
    return (
        "WITH "
        + _oracle_ctes(n_rounds)
        + f""",
vocab AS (SELECT word, len(string_split(s, ' ')) AS n_sym FROM words{n_rounds}),
docwords AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
)
SELECT doc_id,
       count(*) AS ws_tokens,
       CAST(sum(n_sym) AS BIGINT) AS bpe_tokens
FROM docwords JOIN vocab USING (word)
GROUP BY doc_id"""
    )


def _words0(d: DataFrame) -> DataFrame:
    """Distinct corpus words with frequency and the initial spaced
    character-symbol string — the ONE corpus-sized shuffle of training."""
    chars = F.regexp_extract_all(F.col("word"), F.lit("."), F.lit(0))
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(F.array_join(chars, " "), F.lit(f" {_EOW}")).alias("s"),
        )
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word frequency — vocab-sized.
    zip_with over two shifted slices instead of an index sequence:
    single-symbol words yield empty slices (length n-1 = 0), never the
    descending-sequence phantom a ``sequence(0, n-2)`` would mint."""
    sym = F.split("s", " ")
    n = F.size(sym)
    pairs = F.zip_with(
        F.slice(sym, 1, n - 1),
        F.slice(sym, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        words.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(d: DataFrame, n_merges: int = N_MERGES) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges from a (doc_id, text) frame.
    Returns ``(vocab, merges)``: the final per-word symbol strings and
    the ranked merge table.  Unrolled-iteration pattern with an eager
    checkpoint per round (see module docstring)."""
    spark = d.sparkSession
    words = checkpoint(_words0(d))
    # Per-round argmax COLLECTS its single winning row to the driver.
    # The argmax is referenced 3×; checkpointing it (a job) and
    # re-attaching it with a broadcast cross join (a broadcast build +
    # an extra plan node per round) costs more.  Collecting ONE bounded
    # row per round is the legitimate driver-loop kind (the
    # convergence-count pattern, components.py): the TakeOrdered job
    # runs either way, but the checkpoint job and the per-round
    # broadcast disappear — the merge pattern becomes a string LITERAL
    # in the apply expression, and the ranked merge table is built once
    # from the collected rows.
    merge_vals: list[tuple] = []
    for r in range(1, n_merges + 1):
        row = (
            _pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if row:
            a, b, cnt = row[0]["a"], row[0]["b"], int(row[0]["cnt"])
            pat, rep = f" {a} {b} ", f" {a}{b} "
            merge_vals.append((r, a, b, a + b, cnt))
        else:  # no pairs left: apply a never-matching sentinel
            pat = rep = _NO_MATCH
        applied = words.select(
            "word",
            "freq",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("s"), F.lit(" ")),
                    F.lit(pat),
                    F.lit(rep),
                )
            ).alias("s"),
        )
        words = checkpoint(applied)
    merges = spark.createDataFrame(
        merge_vals,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )
    return words, merges


@register(
    "text_bpe_merges",
    oracle=_merges_oracle(N_MERGES),
    tags=("text", "tokenizer"),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table itself — rank, pair, merged symbol, and
    the pair count that won the round.  Hash-checked against the
    unrolled DuckDB training chain: the oracle proves the TRAINING is
    exact (every round's argmax over every round's re-derived pair
    counts), not just the final application."""
    _, merges = bpe_train(table(spark, sf_dir, "documents"))
    return merges


def _bpe_vocab_cache(spark: SparkSession, sf_dir: str) -> str:
    """Build-once trained-tokenizer artifact per (SF, documents file
    identity, training-code version): the final vocab (word → symbol
    count) and the merge table as parquet.  The version component
    hashes the generated training oracle (encodes N_MERGES + every
    semantic detail of the loop) AND the Spark training functions'
    source — a Spark-side-only bugfix must invalidate the artifact
    too, or the cache would keep serving the buggy vocab against a
    fresh oracle forever (round-10 review finding; exactly the
    anti-pattern publish_cached's docstring forbids).  Published
    through io.publish_cached with family GC: superseded generations
    reap after the cross-session age guard."""
    import hashlib
    import inspect
    import os

    from mapreduce_framework_spark.io import cache_sf_token, publish_cached, table_identity

    file_id = table_identity(sf_dir, "documents")
    sf_base = cache_sf_token(sf_dir)
    code = "".join(
        inspect.getsource(f) for f in (bpe_train, _pair_counts, _words0)
    )
    ver = hashlib.sha1(
        (_merges_oracle(N_MERGES) + code).encode()
    ).hexdigest()[:8]
    ident = f"{sf_base}_m{N_MERGES}_{file_id}_{ver}"

    def build(staged: str) -> None:
        os.makedirs(staged)
        vocab, merges = bpe_train(table(spark, sf_dir, "documents"))
        n_sym = F.size(F.split("s", " "))
        vocab.select("word", n_sym.alias("n_sym")).write.parquet(
            os.path.join(staged, "vocab")
        )
        merges.write.parquet(os.path.join(staged, "merges"))

    # family carries the fixed param (m{N_MERGES}) per publish_cached's
    # documented contract: two concurrently-used merge budgets for one
    # SF must not reap each other (round-10 ADVICE).
    return publish_cached(
        f"mfs_bpe_{ident}", build, family=f"mfs_bpe_{sf_base}_m{N_MERGES}"
    )


@register(
    "text_bpe_apply_probe",
    # Identical oracle to text_bpe_token_count — the cache must be
    # invisible to the answer.
    oracle=_token_count_oracle(N_MERGES),
    tags=("text", "tokenizer"),
    bench=True,
)
def text_bpe_apply_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_bpe_token_count's PROBE-ONLY steady-state lane (the ANN
    family's persist/probe split): the tokenizer trains ONCE per SF
    into an atomically-published cache and every subsequent invocation
    is pure APPLY — one corpus word explode joined to the cached vocab
    parquet + the per-doc aggregate.  That is the serving number a
    training pipeline meters (the tokenizer is trained rarely, applied
    to every corpus snapshot), while text_bpe_token_count keeps
    pricing train+apply end-to-end."""
    d = table(spark, sf_dir, "documents")
    import os

    vocab = spark.read.parquet(
        os.path.join(_bpe_vocab_cache(spark, sf_dir), "vocab")
    )
    docwords = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        docwords.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum("n_sym").cast("bigint").alias("bpe_tokens"),
        )
    )


@register(
    "text_bpe_token_count",
    oracle=_token_count_oracle(N_MERGES),
    tags=("text", "tokenizer"),
    bench=True,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc REAL BPE token count: train on the corpus, apply the
    merge table, sum per-word symbol counts per document — the budget
    number a training pipeline actually meters (cf. ``token_count``'s
    regex estimate, which this supersedes as the accurate lane).
    Apply = one corpus word explode joined to the final vocab (AQE
    broadcasts at dictionary size) + one per-doc aggregate."""
    d = table(spark, sf_dir, "documents")
    vocab, _ = bpe_train(d)
    n_sym = F.size(F.split("s", " "))
    docwords = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        docwords.join(vocab.select("word", n_sym.alias("n_sym")), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum("n_sym").cast("bigint").alias("bpe_tokens"),
        )
    )
