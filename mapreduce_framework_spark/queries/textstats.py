"""Text analysis for training-data pipelines: statistics, token
counting, language-ID heuristic, quality scoring, fingerprinting.

All pure JVM expressions over the `documents` table — at 100 TB these
run scan-side with zero shuffle (per-document outputs) and hash-match
their DuckDB oracles exactly (int arithmetic + single double divisions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.functions.idsplit import id_hexdigit
from mapreduce_framework_spark.io import table
from mapreduce_framework_spark.operators.materialize import (
    checkpoint,
    sized_local_checkpoint,
)
from mapreduce_framework_spark.registry import register


def _toks() -> Column:
    return F.split(F.col("text"), " ")


@register(
    "text_stats",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_distinct,
       CAST(list_aggregate(list_transform(t, x -> len(x)), 'sum') AS DOUBLE)
         / len(t) AS avg_token_len,
       CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS type_token_ratio
FROM d
""".strip(),
    tags=("text",),
    bench=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token count, vocabulary size, mean token length,
    type-token ratio.  Tokens staged as a named column — the raw split
    expression would be re-evaluated at each of its five use sites
    (see operators/minhash.py for the rule)."""
    t = F.col("t")
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("t"))
        .select(
            "doc_id",
            F.size(t).alias("n_tokens"),
            F.size(F.array_distinct(t)).alias("n_distinct"),
            (
                F.aggregate(F.transform(t, F.length), F.lit(0), lambda a, x: a + x).cast(
                    "double"
                )
                / F.size(t)
            ).alias("avg_token_len"),
            (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias(
                "type_token_ratio"
            ),
        )
    )


@register(
    "token_count",
    oracle=r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens,
       n_chars
FROM documents
""".strip(),
    tags=("text",),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens vs a BPE-ish regex segmentation (alnum runs +
    individual symbols) — the cheap pre-tokenizer length estimate used
    for budget accounting in data pipelines."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9 ]"), F.lit(0))).alias(
            "bpe_ish_tokens"
        ),
        "n_chars",
    )


# Marker-word profiles for the n-gram language heuristic.  Deliberately
# tiny and literal so the identical table embeds in the oracle SQL.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "data"),
    "de": ("der", "die", "und", "batch"),
    "es": ("el", "la", "que", "stream"),
    "fr": ("le", "la", "et", "query"),
    "zh": ("de", "shi", "le", "spark"),
}


def _marker_rows():
    return [(lang, w) for lang, ws in _LANG_MARKERS.items() for w in ws]


@register(
    "lang_id",
    oracle=f"""
WITH markers(m_lang, m_word) AS (
  SELECT * FROM (VALUES {', '.join(f"('{lang}', '{w}')" for lang, w in _marker_rows())})
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
scores AS (
  SELECT doc_id, m_lang, count(*) AS hits
  FROM tok JOIN markers ON word = m_word
  GROUP BY doc_id, m_lang
),
best AS (
  SELECT doc_id, m_lang, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, m_lang DESC) AS rn
  FROM scores
)
SELECT d.doc_id,
       coalesce(b.m_lang, 'und') AS lang_pred,
       coalesce(b.hits, 0) AS marker_hits
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
""".strip(),
    tags=("text", "langid"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic: count per-language marker hits,
    argmax with lexicographic tie-break, 'und' when nothing matches.
    The marker table is broadcast; the aggregation is per (doc, lang) —
    no full-corpus shuffle of token lists."""
    d = table(spark, sf_dir, "documents")
    markers = spark.createDataFrame(_marker_rows(), "m_lang string, m_word string")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    scores = (
        tok.join(F.broadcast(markers), tok.word == markers.m_word)
        .groupBy("doc_id", "m_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    best = scores.groupBy("doc_id").agg(
        F.max_by("m_lang", F.struct("hits", "m_lang")).alias("lang_pred"),
        F.max("hits").alias("marker_hits"),
    )
    return (
        d.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lang_pred", F.lit("und")).alias("lang_pred"),
            F.coalesce("marker_hits", F.lit(0)).alias("marker_hits"),
        )
    )


@register(
    "quality_score",
    oracle="""
WITH d AS (
  SELECT doc_id, n_chars, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split(text, ' '),
                         w -> w IN ('the', 'a', 'data', 'value'))) AS stop_hits
  FROM documents
)
SELECT doc_id,
       n_tok AS n_tokens,
       CAST(stop_hits AS DOUBLE) / n_tok AS stopword_ratio,
       CAST(n_chars AS DOUBLE) / n_tok AS chars_per_token,
       CASE WHEN n_tok BETWEEN 20 AND 80 THEN 1.0 ELSE 0.5 END
         * (0.5 + CAST(stop_hits AS DOUBLE) / n_tok) AS quality
FROM d
""".strip(),
    tags=("text", "quality"),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length band × stopword-density prior
    (the shape of C4/Gopher-style quality filters, deterministic).
    Tokens staged as a named column (multiple use sites)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.split(F.col("text"), " ").alias("t")
    )
    t = F.col("t")
    n_tok = F.size(t)
    stop_hits = F.size(F.filter(t, lambda w: w.isin("the", "a", "data", "value")))
    stop_ratio = stop_hits.cast("double") / n_tok
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        (F.col("n_chars").cast("double") / n_tok).alias("chars_per_token"),
        (
            F.when(n_tok.between(20, 80), F.lit(1.0)).otherwise(F.lit(0.5))
            * (F.lit(0.5) + stop_ratio)
        ).alias("quality"),
    )


@register(
    "doc_fingerprint",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4
              THEN list_transform(range(1, len(t) - 2),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
              ELSE [] END AS grams
  FROM d
)
SELECT doc_id,
       list_aggregate(list_transform(grams, x -> md5(x)), 'min') AS fingerprint,
       len(list_distinct(grams)) AS n_distinct_grams
FROM g
""".strip(),
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling word-4-gram fingerprint: the minimum gram digest is a
    1-permutation MinHash — stable under content reordering/truncation,
    the cheap near-dup prefilter.

    Tokens and grams are staged as named columns (one evaluation each);
    the raw-expression formulation re-ran split() per element_at and the
    whole gram pipeline once per consumer — measured 8.6s → ~1s at
    sf0.1 (see operators/minhash.py for the general rule)."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", word_ngrams(F.col("toks"), 4).alias("grams"))
    )
    return d.select(
        "doc_id",
        F.array_min(F.transform(F.col("grams"), F.md5)).alias("fingerprint"),
        F.size(F.array_distinct(F.col("grams"))).alias("n_distinct_grams"),
    )


_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"

_SCRUB_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact bob.smith+x@example-mail.com now'
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INTEGER) AS n_redactions,
       regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g') AS clean_text
FROM d
""".strip()


@register("text_scrub_pii", oracle=_SCRUB_ORACLE, tags=("text", "scrub"), bench=True)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (email redaction), the standard pre-training
    cleaning pass.  The corpus is synthetic and clean, so a
    deterministic email is injected into every 7th doc IN BOTH ENGINES
    and then scrubbed — redaction counts and cleaned text hash-check
    exactly.  The regex is the portable subset (char classes +
    bounded quantifiers) that Java and RE2 dialects share; scrubbing
    stays in whole-stage codegen (regexp_replace/regexp_count are JVM
    expressions, no Python)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact bob.smith+x@example-mail.com now")),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return d.select(
        "doc_id",
        F.regexp_count("t", F.lit(_EMAIL_RE)).cast("int").alias("n_redactions"),
        F.regexp_replace("t", _EMAIL_RE, "<EMAIL>").alias("clean_text"),
    )


@register(
    "ngram_topk",
    oracle="""
WITH d AS (SELECT string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
           AS gram
  FROM d WHERE len(t) >= 2
)
SELECT gram, count(*) AS cnt
FROM g
GROUP BY gram
ORDER BY cnt DESC, gram ASC
LIMIT 20
""".strip(),
    tags=("text", "ngram"),
)
def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams — the vocabulary/ngram census step of
    corpus analysis.  Map-side partial aggregation collapses each
    partition's gram counts before the shuffle (one row per distinct
    gram, not per occurrence), and the final top-k is
    TakeOrderedAndProject — no global sort materializes at any scale.
    Tie-break on the gram string keeps LIMIT deterministic.
    explode_outer+filter, not explode: InferFiltersFromGenerate would
    re-inline the whole gram pipeline into an inferred size()>0
    predicate (see catalyst notes in operators/minhash.py)."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams

    d = (
        table(spark, sf_dir, "documents")
        .select(F.split("text", " ").alias("t"))
        .where(F.size("t") >= 2)
        .select(word_ngrams(F.col("t"), 2).alias("grams"))
    )
    g = d.select(F.explode_outer("grams").alias("gram")).where(
        F.col("gram").isNotNull()
    )
    return (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(20)
    )


@register(
    "tfidf_topk",
    bench=True,
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
FROM ranked WHERE rn <= 3
""".strip(),
    tags=("text", "tfidf"),
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf×(N/df) — TF-IDF
    with a LINEAR inverse document frequency.  Linear, not log, on
    purpose: ln() is libm-dependent in its last ulp across engines,
    while tf·N is exact int64 and one IEEE division is bit-identical
    everywhere; the per-doc ranking this produces is the same shape.

    Scale: tf and df are two cascaded hash aggregations (both map-side
    combined); the doc count joins in as a broadcast scalar; the rank
    window partitions per doc.  The only corpus-sized shuffle key is the
    term — at 100 TB, hot terms ('the') are exactly the skew case
    agg_salted_skew demonstrates the fix for."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.explode_outer("t").alias("term"))
        .where(F.col("term").isNotNull())
    )
    # Eager checkpoint: `tf` is consumed twice — the df aggregate and
    # the scored join — and each lazy evaluation re-ran the corpus
    # tokenize + explode + aggregate.  One materialization
    # (vocabulary×docs-bounded) halves the corpus passes.  Deliberately
    # NOT a window count over term: count(*) over (partition by 'the')
    # buffers the hot term's entire partition in one task and AQE
    # cannot split window skew — the groupBy(term) + join keeps the hot
    # key map-side-combined on the build side and skew-splittable on
    # the probe.
    tf = checkpoint(tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


def contamination_frame(d: DataFrame, n: int = 5) -> DataFrame:
    """Per-eval-doc n-gram contamination from a (doc_id, split, t)
    frame (t = token array, split ∈ {train, eval}) — the reusable core
    of contamination_ngram, shared with tools/scale_probe.py so the
    probe times the real operator."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams

    g = (
        d.select(
            "doc_id",
            "split",
            F.array_distinct(word_ngrams(F.col("t"), n)).alias("grams"),
        )
        .select("doc_id", "split", F.explode_outer("grams").alias("gram"))
        .where(F.col("gram").isNotNull())
        # Join/distinct on the 8-byte xxhash64 of the gram, not the
        # ~40-byte string: the distinct + join shuffles carry longs
        # (measured 2.8x end-to-end at 150k docs), and the smaller
        # build side lets AQE flip the probe join to broadcast sooner.
        # False-positive bound: expected colliding gram pairs is
        # C(G,2)/2^64 — at G=10^12 distinct grams that is ~27k false
        # hits, a ~3e-8 relative error on the ratio; at test scale the
        # string-exact DuckDB oracle stays collision-free and green.
        .select("doc_id", "split", F.xxhash64("gram").alias("gh"))
    )
    # One gram pass: lazily, the 5-gram
    # construction ran THREE times (train side, eval-hits side,
    # eval-denominator side).  Materialize the hashed gram frame once
    # (skinny (doc_id, split, int64) rows — the expensive string work
    # is already reduced to longs), and fold the hit count and the
    # denominator into ONE aggregate over a LEFT join against the
    # distinct train set: train is distinct on gh, so the left join
    # preserves eval row multiplicity — count(*) is the old `base`
    # and count(match) the old `hits`, bit-identically.  Size-gated
    # (operators/materialize.py): lazy below the materialization
    # break-even.
    g = sized_local_checkpoint(g)
    train = (
        g.where(F.col("split") == "train")
        .select("gh")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ev = g.where(F.col("split") == "eval").select("doc_id", "gh")
    per_doc = (
        ev.join(train, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        (
            F.col("n_contaminated").cast("double") / F.col("n_grams")
        ).alias("contamination_ratio"),
    )


@register(
    "contamination_ngram",
    bench=True,
    oracle="""
WITH d AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train' ELSE 'eval' END AS split,
         string_split(text, ' ') AS t
  FROM documents
),
g AS (
  SELECT doc_id, split,
         unnest(CASE WHEN len(t) >= 5
                     THEN list_distinct(list_transform(range(1, len(t) - 3),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 || ' ' || t[i+3] || ' ' || t[i+4]))
                     ELSE [] END) AS gram
  FROM d
),
tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
ev AS (SELECT doc_id, gram FROM g WHERE split = 'eval'),
hits AS (
  SELECT ev.doc_id, count(*) AS n_contaminated
  FROM ev JOIN tr ON ev.gram = tr.gram
  GROUP BY ev.doc_id
),
base AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id)
SELECT base.doc_id,
       base.n_grams,
       coalesce(hits.n_contaminated, 0) AS n_contaminated,
       CAST(coalesce(hits.n_contaminated, 0) AS DOUBLE) / base.n_grams
         AS contamination_ratio
FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
""".strip(),
    tags=("text", "contamination", "pipeline"),
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval contamination check: the fraction of each eval doc's
    distinct word-5-grams that also appear anywhere in the train split —
    the decontamination audit every benchmark-respecting training
    pipeline runs.  Splits follow the md5-hexdigit convention of
    split_train_eval, so the audit composes with the split it audits.

    Scale: per-doc gram sets are deduped BEFORE the join (array_distinct
    inside the row — no cross-doc shuffle), the train side collapses to
    distinct grams, and the distinct/join run on xxhash64(gram) — 8-byte
    keys instead of ~40-byte strings (see contamination_frame for the
    measured win and the negligible-collision bound).  At 100 TB the
    remaining lever is a bloom filter built from the train side to
    pre-filter eval grams before the shuffle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(id_hexdigit("doc_id") < "c", "train").otherwise("eval").alias("split"),
        F.split("text", " ").alias("t"),
    )
    return contamination_frame(d, 5)


@register(
    "text_repetition_ratio",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         len(t) - 2 AS n_grams,
         len(list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS n_distinct
  FROM d WHERE len(t) >= 3
)
SELECT doc_id, n_grams, n_distinct,
       1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS rep_ratio,
       CASE WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_grams > 0.2
            THEN 1 ELSE 0 END AS is_repetitive
FROM g
""".strip(),
    tags=("text", "quality", "repetition"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): the
    fraction of word-3-grams that are repeats of an earlier gram in the
    same doc.  Boilerplate and looping generations score high and get
    flagged.  Entirely row-local — gram lists never leave their row, so
    the pass is scan-side with zero shuffle at any corpus size.  Grams
    are staged as a named column once (HOF-re-evaluation rule,
    operators/minhash.py)."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams

    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= 3)
        .select("doc_id", word_ngrams(F.col("t"), 3).alias("grams"))
    )
    n_grams = F.size("grams")
    n_distinct = F.size(F.array_distinct("grams"))
    rep = F.lit(1.0) - n_distinct.cast("double") / n_grams
    return d.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        rep.alias("rep_ratio"),
        F.when(rep > 0.2, 1).otherwise(0).alias("is_repetitive"),
    )


@register(
    "contamination_exact",
    oracle="""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train' ELSE 'eval' END AS split,
         md5(lower(trim(text))) AS fp
  FROM documents
),
tr AS (SELECT DISTINCT fp FROM d WHERE split = 'train'),
ev AS (SELECT doc_id, source, fp FROM d WHERE split = 'eval')
SELECT ev.source,
       count(*) AS n_eval_docs,
       count(tr.fp) AS n_contaminated
FROM ev LEFT JOIN tr ON ev.fp = tr.fp
GROUP BY ev.source
""".strip(),
    tags=("text", "contamination", "pipeline"),
)
def contamination_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level exact contamination: eval documents whose normalized
    full text (lower + trim) appears verbatim anywhere in the train
    split, counted per source — the cheap first tier of a
    decontamination audit (contamination_ngram is the expensive
    fuzzy tier).  Splits follow the md5-hexdigit convention of
    split_train_eval so all three compose.

    Scale: both sides join on a 32-hex md5 fingerprint, never on the
    text itself — the shuffle carries 32 bytes per doc regardless of
    document size, and the train side first collapses to DISTINCT
    fingerprints (partial-aggregated map-side).  At 100 TB the left
    join becomes fingerprint-bucketed and the eval side is the small
    probe; the plan shape is unchanged."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(id_hexdigit("doc_id") < "c", "train").otherwise("eval").alias("split"),
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("fp"),
    )
    train = d.where(F.col("split") == "train").select("fp").distinct()
    ev = d.where(F.col("split") == "eval")
    joined = ev.join(train.withColumnRenamed("fp", "tfp"),
                     ev["fp"] == F.col("tfp"), "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_eval_docs"),
        F.count(F.col("tfp")).alias("n_contaminated"),
    )


_GOPHER_ORACLE = """
WITH m AS (
  SELECT source,
         len(t) AS n_tok,
         list_aggregate(list_transform(t, x -> len(x)), 'sum') AS chars,
         len(list_filter(t, w -> w IN ('the', 'a', 'data', 'value'))) AS stop_hits,
         len(list_distinct(t)) AS n_dis
  FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_tok NOT BETWEEN 25 AND 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
       CAST(sum(CASE WHEN chars < 3 * n_tok OR chars > 8 * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
       CAST(sum(CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
       CAST(sum(CASE WHEN 2 * n_dis < n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_ttr,
       CAST(sum(CASE WHEN n_tok BETWEEN 25 AND 100
                      AND chars BETWEEN 3 * n_tok AND 8 * n_tok
                      AND stop_hits >= 2
                      AND 2 * n_dis >= n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM m
GROUP BY source
""".strip()


@register(
    "quality_gopher_rules",
    oracle=_GOPHER_ORACLE,
    tags=("text", "quality"),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-battery filter funnel, reported per source:
    how many documents each quality rule rejects (length band, mean
    word length band, minimum stopword hits, type-token ratio) and how
    many survive all four.  This is the report a curation pipeline
    publishes per ingest batch so a drifting source (suddenly failing
    the word-length rule, say) is caught before it poisons a training
    mix.  All thresholds compare integers cross-multiplied (chars <
    3*n_tok, 2*n_distinct < n_tok) — no float ratios, so the oracle
    hash is exact.

    Plan shape: per-doc rule bits are scan-side expressions; the only
    shuffle is the final skinny groupBy(source) of pre-aggregated
    partial sums — at 100 TB this is a full-corpus scan but a
    kilobyte-scale exchange (|sources| rows per map task)."""
    t = F.col("t")
    n_tok = F.size(t)
    chars = F.aggregate(F.transform(t, F.length), F.lit(0), lambda a, x: a + x)
    stop_hits = F.size(F.filter(t, lambda w: w.isin("the", "a", "data", "value")))
    n_dis = F.size(F.array_distinct(t))
    ok_len = n_tok.between(25, 100)
    ok_wordlen = (chars >= 3 * n_tok) & (chars <= 8 * n_tok)
    ok_stop = stop_hits >= 2
    ok_ttr = 2 * n_dis >= n_tok

    def fails(ok: Column, name: str) -> Column:
        return F.sum(F.when(~ok, 1).otherwise(0)).cast("long").alias(name)

    return (
        table(spark, sf_dir, "documents")
        .select("source", _toks().alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fails(ok_len, "n_fail_len"),
            fails(ok_wordlen, "n_fail_wordlen"),
            fails(ok_stop, "n_fail_stop"),
            fails(ok_ttr, "n_fail_ttr"),
            F.sum(
                F.when(ok_len & ok_wordlen & ok_stop & ok_ttr, 1).otherwise(0)
            ).cast("long").alias("n_pass"),
        )
    )


_MIX_ORACLE = """
WITH g AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens,
       CAST((1000000 * n_tokens) // (SELECT sum(n_tokens) FROM g) AS BIGINT) AS share_ppm
FROM g
""".strip()


@register(
    "doc_mix_report",
    oracle=_MIX_ORACLE,
    tags=("text", "mix"),
)
def doc_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planning report: per (source, lang) cell, document
    count, token count, and integer-ppm share of the whole corpus's
    tokens.  The mix table is what you reweight when a training recipe
    says "30% code, 5% per non-English language" — ppm is computed by
    integer floor-division so the report hashes identically across
    engines (no float shares).

    Plan shape: one scan-side partial agg → skinny exchange on
    (source, lang) → an unpartitioned window over the aggregated grid
    (|sources|×|langs| rows, trivially single-partition) for the
    corpus total.  The raw corpus is never shuffled and never scanned
    twice."""
    g = (
        table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_toks())).alias("n_tokens"),
        )
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.expr("1000000 * n_tokens").cast("long").alias("_num"),
        total.alias("_tot"),
    ).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.expr("_num div _tot").alias("share_ppm"),
    )


@register(
    "quality_lm_perplexity",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
big AS (
  SELECT doc_id, tk[d.d] AS w1, tk[d.d + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS d) d
),
cnt AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
ctx AS (SELECT w1, count(*) AS cw FROM big GROUP BY w1)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       round(avg(log2(ctx.cw / cnt.c)), 6) AS avg_nll_bits
FROM big b
JOIN cnt ON b.w1 = cnt.w1 AND b.w2 = cnt.w2
JOIN ctx ON b.w1 = ctx.w1
GROUP BY b.doc_id
""".strip(),
    tags=("quality", "pipeline"),
    bench=True,
)
def quality_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM quality score (CCNet-shape filtering):
    train bigram/context counts over the WHOLE corpus in one pass, then
    score every document by its mean negative log2 conditional
    probability — high avg_nll_bits = the doc's word transitions are
    atypical for the corpus (the perplexity-filter signal; CCNet uses a
    5-gram KenLM, the plan is identical).  Train and score are the SAME
    exploded bigram frame, so the corpus is scanned once.

    Scale: the bigram count table is vocabulary-bounded — for a bounded
    vocab it broadcasts and scoring is map-side; for open vocab both
    joins are shuffle joins keyed on the bigram, linear in corpus size.
    Docs with fewer than 2 tokens have no bigrams and are (by contract)
    absent from the output.  avg is order-insensitive to 1e-15; the
    round(6) pins the cross-engine value."""
    return lm_perplexity_frame(table(spark, sf_dir, "documents"))


def lm_perplexity_frame(d: DataFrame) -> DataFrame:
    """Bigram-LM scoring core over a (doc_id, text) frame — reusable
    heart of quality_lm_perplexity, shared with tools/scale_probe.py.

    The count-table joins carry NO broadcast hint (a hint
    bypasses Spark's size threshold, so on an open vocabulary the full
    bigram table would be collected to the driver — exactly the OOM
    the docstring's scale note warns about).  AQE sizes the actual
    exchange: bounded vocab → runtime broadcast, open vocab → shuffle
    joins keyed on the bigram (AQE-skew-splittable, unlike a window
    count over a hot context word)."""
    tk = F.split("text", " ")
    big = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(tk, 1, F.size(tk) - 1).alias("w1"),
                F.slice(tk, 2, F.size(tk) - 1).alias("w2"),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # One corpus pass: the exploded bigram frame is materialized once
    # (~corpus-sized — the same bytes a persisted n-gram stage would
    # write), the bigram count table aggregates from the cache, and the
    # CONTEXT counts derive from the bigram counts (Σ_w2 c(w1,w2) ≡
    # count by w1 — vocab²-bounded input instead of a second corpus
    # pass).  Lazily, cnt / ctx / the probe side each re-ran the corpus
    # explode — 3 passes.  SIZE-GATED: an unconditional eager checkpoint
    # measured 0.68× at sf0.1 (a materialization job + disk round-trip
    # of a few-MB explode costs more than two extra page-cached scans).
    # Where a corpus-sized frame lands is operators/materialize.py's
    # reliable-dir switch.
    big = sized_local_checkpoint(big)
    cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = cnt.groupBy("w1").agg(F.sum("c").alias("cw"))
    scored = big.join(cnt, ["w1", "w2"]).join(ctx, "w1")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(F.log2(F.col("cw") / F.col("c"))), 6).alias("avg_nll_bits"),
    )


@register(
    "text_ngram_novelty",
    # Doc counts per gram need no DISTINCT: the per-doc gram list is
    # array_distinct'ed BEFORE exploding, so each (doc, gram) pair
    # appears once and count(*) per gram IS its document frequency.
    # The >0.5-coverage flag compares 2*n_dup > n_grams — an exact
    # integer predicate, no float threshold anywhere near the hash.
    oracle="""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, source,
         unnest(CASE WHEN len(t) >= 5
                     THEN list_distinct(list_transform(range(1, len(t) - 3),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 || ' ' || t[i+3] || ' ' || t[i+4]))
                     ELSE [] END) AS gram
  FROM d
),
dfc AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
perdoc AS (
  SELECT g.doc_id, g.source, count(*) AS n_grams,
         count(*) FILTER (WHERE dfc.df >= 2) AS n_dup
  FROM g JOIN dfc ON g.gram = dfc.gram
  GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(n_dup) AS BIGINT) AS dup_grams,
       round(CAST(SUM(n_dup) AS DOUBLE) / SUM(n_grams), 6) AS dup_ratio,
       count(*) FILTER (WHERE 2 * n_dup > n_grams) AS n_docs_mostly_dup
FROM perdoc
GROUP BY source
""".strip(),
    tags=("text", "dedup", "pipeline"),
    bench=True,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-n-gram coverage per source — the
    corpus-level novelty audit (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022: duplicate spans
    drive memorization): for every doc, the fraction of its distinct
    word-5-grams that occur in at least one OTHER document, rolled up
    per source as total/duplicated gram counts, the corpus dup ratio,
    and how many docs are >50% duplicated (the candidates exact dedup
    missed but span-level dedup would catch).  Complements
    text_repetition_ratio (intra-doc) and contamination_ngram
    (train→eval): this one is corpus↔corpus.

    Scale: per-doc gram sets dedupe inside the row before exploding;
    the document-frequency aggregate and the gram join shuffle 8-byte
    xxhash64 keys, never gram strings (contamination_frame's measured
    2.8x; the string-exact DuckDB oracle pins collision-freeness at
    test scale).  Docs shorter than one gram carry no signal and drop
    out (both engines).  At 100 TB the df table is the same artifact a
    suffix-array span-dedup pass builds its candidate list from — this
    key is its accounting twin."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("t")
    )
    return ngram_novelty_frame(d)


def ngram_novelty_frame(d: DataFrame) -> DataFrame:
    """Per-source duplicate-5-gram coverage from a (doc_id, source, t)
    frame — the reusable core of text_ngram_novelty, shared with
    tools/scale_probe.py so the probe times the real operator."""
    from mapreduce_framework_spark.functions.tokenize import word_ngrams

    g = (
        d.select(
            "doc_id",
            "source",
            F.explode_outer(
                F.array_distinct(word_ngrams(F.col("t"), 5))
            ).alias("gram"),
        )
        .where(F.col("gram").isNotNull())
        .select("doc_id", "source", F.xxhash64("gram").alias("gh"))
    )
    # Join back only the DUPLICATED grams: every gram matches the full
    # df table (df ≥ 1 by construction), so an inner join would carry
    # the whole gram vocabulary as build side just to evaluate df >= 2.
    # Filtering to the df ≥ 2 set first shrinks the build side to the
    # duplicated minority (the quantity this audit exists to measure),
    # which keeps it broadcastable far longer at scale; a left join +
    # null flag is then exactly df >= 2.
    dup = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
        .select("gh", F.lit(1).alias("_dup"))
    )
    perdoc = (
        g.join(dup, "gh", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("_dup").isNotNull()).alias("n_dup"),
        )
    )
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("total_grams"),
        F.sum("n_dup").cast("bigint").alias("dup_grams"),
        F.round(
            F.sum("n_dup").cast("double") / F.sum("n_grams"), 6
        ).alias("dup_ratio"),
        F.count_if(F.lit(2) * F.col("n_dup") > F.col("n_grams")).alias(
            "n_docs_mostly_dup"
        ),
    )
