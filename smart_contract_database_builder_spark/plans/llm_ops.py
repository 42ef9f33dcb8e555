"""LLM-data-pipeline operators (SURVEY.md J6, A2/A7, F19-F21, O4-O5 EXT).

Dedup, text analysis, and similarity search over the ``documents`` and
``embeddings`` corpora — the north-star extension surface. Everything
here is Catalyst expressions (higher-order array functions, hash
aggregates, banded self-joins); no Python runs per row.

Float-parity strategy for vector math: Spark and DuckDB may sum doubles
in different orders, so dot products / norms are computed in EXACT
arithmetic — per-element products as DECIMAL(18,9)² summed losslessly
(order-independent), integer-scaled fixed point where a stable fold type
is needed — and only converted to DOUBLE for the final per-row
cosine/sqrt, where IEEE-754 guarantees bitwise-equal results on equal
inputs.

Scale notes are on each query: the dedup/LSH designs are the banded
kind that survive 100 TB (shuffle by band key / hash prefix), never
all-pairs.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.store_root import ensure_store, store_path
from ..sources.tables import load_table
from .materialize import fan_out_if_narrow, pin
from .registry import QUERIES, register


# ---------------------------------------------------------------------------
# Shared text expressions
# ---------------------------------------------------------------------------


def _tokens(c: Column | str = "text") -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.split(F.trim(F.lower(col)), r"\s+")


def tokenized(docs: DataFrame, *keep: str) -> DataFrame:
    """(``keep`` columns — ``doc_id`` when none is given — , t): the
    documents with their token array ``t``, fanned out to cluster
    width when the scan is narrow.

    Tokenize in its OWN projection, before any n-gram lambda reads
    ``t``: inlining ``_tokens()`` into the n-gram transform would re-run
    the regex split inside every ``element_at`` lambda (~4·n_tok splits
    of the full text per row, measured 30× slower); as a
    multiply-referenced non-cheap alias, CollapseProject leaves it
    computed once per row. The tokenized rows are then fanned out
    (``fan_out_if_narrow``), so the n-gram lambdas and explodes
    downstream run full-width."""
    return fan_out_if_narrow(
        docs.select(*(keep or ("doc_id",)), _tokens().alias("t"))
    )


#: DuckDB twin of ``_tokens`` over the ``text`` column.
_SQL_TOKENS = r"string_split_regex(trim(lower(text)), '\s+')"


def _word_ngrams(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles; empty when the doc has < n tokens.

    The ``when`` guard matters: Spark's ``sequence(1, k)`` DESCENDS for
    k < 1 instead of returning an empty array.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _sql_word_ngrams(t: str = "t", n: int = 3) -> str:
    parts = " || ' ' || ".join(f"{t}[i+{j}]" if j else f"{t}[i]" for j in range(n))
    return (
        f"CASE WHEN len({t}) >= {n} "
        f"THEN list_transform(range(1, len({t}) - {n - 2}), i -> {parts}) "
        f"ELSE [] END"
    )


# ---------------------------------------------------------------------------
# Exact & fingerprint dedup (A2 EXT over documents)
# ---------------------------------------------------------------------------


@register(
    "llm_exact_dedup_documents",
    oracle=r"""
    SELECT content_key,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id,
           MIN(n_chars) AS min_chars
    FROM (
      SELECT doc_id, n_chars,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_key
      FROM documents
    )
    GROUP BY content_key
    """,
)
def llm_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on canonicalized text (lowercase, trim, collapse
    whitespace) — the standard first pass of an LLM data pipeline.

    Scale shape: one shuffle keyed by a uniform 128-bit hash (no skew);
    map-side partial aggregation collapses duplicates early.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    return (
        docs.select("doc_id", "n_chars", key.alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.min("n_chars").alias("min_chars"),
        )
    )


@register(
    "llm_fingerprint_dedup_prefix",
    oracle=rf"""
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
    FROM (
      SELECT doc_id,
             md5(array_to_string(({_SQL_TOKENS})[1:4], ' ')) AS fp
      FROM documents
    )
    GROUP BY fp
    HAVING COUNT(*) > 1
    """,
)
def llm_fingerprint_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup: md5 of the first 4 tokens — a cheap
    boilerplate-header collapse pass. Returns only collapsing groups
    (n_docs > 1) so the comparison is non-vacuous.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(_tokens(), 1, 4)))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Text analysis (A7 / F20)
# ---------------------------------------------------------------------------


@register(
    "llm_text_stats_by_lang",
    oracle=rf"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def llm_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-language corpus statistics (doc counts, char/token
    volume) — the shape of a training-data composition report."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", "n_chars", "source", F.size(_tokens()).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum("n_tok").alias("total_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on")
_SQL_STOPWORDS = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "llm_quality_scores",
    oracle=rf"""
    SELECT doc_id,
           len(t) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
             AS n_bpe_tokens,
           len(list_distinct(t)) AS n_uniq_tokens,
           CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS type_token_ratio,
           len(list_filter(t, x -> x IN ({_SQL_STOPWORDS}))) AS n_stopwords,
           CAST(len(list_filter(t, x -> x IN ({_SQL_STOPWORDS}))) AS DOUBLE)
             / len(t) AS stopword_ratio,
           CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
             / len(t) AS avg_token_len
    FROM (SELECT doc_id, text, {_SQL_TOKENS} AS t FROM documents)
    WHERE len(t) > 0
    """,
)
def llm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20: per-document quality signals — whitespace and BPE-ish token
    counts (the lexer regex word/number/symbol-run proxy for LLM token
    budgeting), type-token ratio, stopword ratio, mean token length: the
    standard heuristics for corpus filtering. Pure per-row array
    expressions; no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _tokens().alias("t")
    )
    t = F.col("t")
    stop = F.filter(t, lambda x: x.isin(*_STOPWORDS))
    tok_len_sum = _long_sum(F.transform(t, F.length))
    bpe = F.size(
        F.regexp_extract_all(
            F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
        )
    )
    return (
        docs.select(
            "doc_id",
            F.size(t).alias("n_tokens"),
            bpe.alias("n_bpe_tokens"),
            F.size(F.array_distinct(t)).alias("n_uniq_tokens"),
            F.size(stop).alias("n_stopwords"),
            tok_len_sum.alias("tok_len_sum"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "n_bpe_tokens",
            "n_uniq_tokens",
            (F.col("n_uniq_tokens").cast("double") / F.col("n_tokens")).alias(
                "type_token_ratio"
            ),
            "n_stopwords",
            (F.col("n_stopwords").cast("double") / F.col("n_tokens")).alias(
                "stopword_ratio"
            ),
            (F.col("tok_len_sum").cast("double") / F.col("n_tokens")).alias(
                "avg_token_len"
            ),
        )
    )


_LEXICONS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "pas"),
    "es": ("el", "los", "y", "es", "una", "que", "no"),
}


def _sql_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LEXICONS[lang])
    return f"len(list_filter(t, x -> x IN ({words})))"


@register(
    "llm_langid_stopword",
    oracle=rf"""
    SELECT doc_id, lang AS labeled_lang,
           {_sql_hits('en')} AS en_hits,
           {_sql_hits('de')} AS de_hits,
           {_sql_hits('fr')} AS fr_hits,
           {_sql_hits('es')} AS es_hits,
           CASE
             WHEN {_sql_hits('en')} = 0 AND {_sql_hits('de')} = 0
              AND {_sql_hits('fr')} = 0 AND {_sql_hits('es')} = 0 THEN 'unknown'
             WHEN {_sql_hits('en')} >= {_sql_hits('de')}
              AND {_sql_hits('en')} >= {_sql_hits('fr')}
              AND {_sql_hits('en')} >= {_sql_hits('es')} THEN 'en'
             WHEN {_sql_hits('de')} >= {_sql_hits('fr')}
              AND {_sql_hits('de')} >= {_sql_hits('es')} THEN 'de'
             WHEN {_sql_hits('fr')} >= {_sql_hits('es')} THEN 'fr'
             ELSE 'es'
           END AS predicted_lang
    FROM (SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents)
    """,
)
def llm_langid_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20: stopword-lexicon language ID heuristic with a deterministic
    argmax tie-break (en > de > fr > es), 'unknown' when no lexicon
    hits. Per-row array expressions only."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _tokens().alias("t")
    )
    t = F.col("t")

    def _lexicon_hits(words: tuple[str, ...]) -> Column:
        # factory (not a default-arg lambda): higher-order-function
        # lambdas must be unary — an extra parameter would be bound to
        # the element index by PySpark
        return F.size(F.filter(t, lambda x: x.isin(*words)))

    hits = {lang: _lexicon_hits(words) for lang, words in _LEXICONS.items()}
    base = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits["en"].alias("en_hits"),
        hits["de"].alias("de_hits"),
        hits["fr"].alias("fr_hits"),
        hits["es"].alias("es_hits"),
    )
    en, de, fr, es = (F.col(f"{c}_hits") for c in ("en", "de", "fr", "es"))
    predicted = (
        F.when((en == 0) & (de == 0) & (fr == 0) & (es == 0), F.lit("unknown"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return base.withColumn("predicted_lang", predicted)


#: Deterministic mix-sampling thresholds: a doc is kept iff the first
#: 4 hex chars of md5(doc_id) sort below its language's threshold.
#: '4000'/'c000' ≈ keep 25% of English, 75% of everything else — the
#: "upsample low-resource languages" rebalance. Hex-prefix comparison
#: is engine-portable (md5 hex is identical everywhere) and needs no
#: integer parsing.
_MIX_THR_EN = "4000"
_MIX_THR_OTHER = "c000"


@register(
    "llm_mix_sample_by_lang",
    oracle=rf"""
    SELECT doc_id, lang, source,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h4
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE WHEN lang = 'en' THEN '{_MIX_THR_EN}'
                 ELSE '{_MIX_THR_OTHER}' END
    """,
)
def llm_mix_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/F20: REPRODUCIBLE dataset mixing — per-language sampling by
    content-stable hash instead of RNG. A doc is kept iff a 4-hex-char
    prefix of md5(doc_id) sorts below its language's threshold, so the
    sample is (a) exactly reproducible across runs, engines, partition
    counts and cluster sizes, (b) monotone: raising a threshold only
    ADDS docs, it never reshuffles the kept set — the property a
    curriculum/mixture sweep needs, and what ``rand(seed)`` sampling
    (order-dependent per partition) cannot give.

    Scale shape: a pure map-side filter — no shuffle, no window, no
    state; predicate and projection push to the parquet scan. At 100 TB
    this is the cheapest possible full-corpus pass, and the per-lang
    thresholds are plan literals (a CASE, not a join).
    """
    docs = load_table(spark, sf_dir, "documents")
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = F.when(F.col("lang") == "en", F.lit(_MIX_THR_EN)).otherwise(
        F.lit(_MIX_THR_OTHER)
    )
    return docs.select(
        "doc_id", "lang", "source", h4.alias("h4")
    ).filter(F.col("h4") < thr)


#: Per-source token budget for the greedy domain-mixing fill. Sources
#: in the testdata carry ~1350 tokens each at sf0.01, so 600 keeps a
#: real prefix and drops a real tail in every source at every SF.
_BUDGET_TOKENS = 600


@register(
    "llm_token_budget_per_source",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok, h,
             SUM(n_tok) OVER (
               PARTITION BY source ORDER BY h, doc_id
             ) AS cum
      FROM t
    )
    SELECT doc_id, source,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum - n_tok AS BIGINT) AS start_off
    FROM c
    WHERE cum - n_tok < {_BUDGET_TOKENS}
    """,
)
def llm_token_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/W3/O4: TOKEN-BUDGET domain mixing — each source contributes
    documents greedily, in content-stable md5(doc_id) order, until its
    token budget is exhausted (the doc that crosses the budget line is
    kept; everything after it drops). This is the exact-budget
    counterpart of rate-based ``llm_mix_sample_by_lang``: a mixture
    spec in tokens, not probabilities — and the hash order makes the
    chosen prefix reproducible across runs, engines and partitionings,
    while budget increases only ever APPEND documents.

    Scale shape: one window per source (running token sum in hash
    order) then a map-side filter — the same per-shard discipline as
    ``llm_sequence_packing``; no global ordering, no driver state. A
    skew-heavy source costs only its own partition's sort. Integer
    token counts make the budget cut exact on both engines.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(_tokens()).alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    start = F.col("cum") - F.col("n_tok")
    return (
        c.filter(start < _BUDGET_TOKENS)
        .select(
            "doc_id",
            "source",
            F.col("n_tok").cast("long").alias("n_tok"),
            start.cast("long").alias("start_off"),
        )
    )


#: Training context window (tokens) for sequence packing.
_PACK_CTX = 256


@register(
    "llm_sequence_packing",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tok FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
             ) AS cum
      FROM t
    )
    SELECT doc_id, source,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum - n_tok AS BIGINT) AS start_off,
           CAST((cum - n_tok) // {_PACK_CTX} AS BIGINT) AS pack_id,
           (cum - 1) // {_PACK_CTX} > (cum - n_tok) // {_PACK_CTX}
             AS crosses_boundary
    FROM c
    """,
)
def llm_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/F20: SEQUENCE PACKING — concat-then-chunk, the GPT-style
    pretraining layout: within each shard, documents are concatenated
    in deterministic (doc_id) order and the token stream is cut into
    fixed {_PACK_CTX}-token context windows. Each doc reports its start
    offset in the shard's stream, the pack (chunk) containing its first
    token, and whether it spans a chunk boundary.

    Scale shape: ONE window per shard key (``source``) — the running
    sum shuffles on source and sorts within, exactly how a real packing
    job shards (a single global ordering over 100 TB would funnel the
    corpus through one partition; per-shard streams are the standard
    discipline, and shard-local pack ids are what the loader consumes).
    All arithmetic is exact integer division on the running sum (no
    floats), so both engines agree bitwise.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(_tokens()).alias("n_tok")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    start = F.col("cum") - F.col("n_tok")
    return c.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        start.cast("long").alias("start_off"),
        F.expr(f"(cum - n_tok) div {_PACK_CTX}").alias("pack_id"),
        (
            F.expr(f"(cum - 1) div {_PACK_CTX}")
            > F.expr(f"(cum - n_tok) div {_PACK_CTX}")
        ).alias("crosses_boundary"),
    )


#: Decontamination n-gram size. Production pipelines match 8-13-gram
#: collisions (the GPT-3 / PaLM published recipe); the synthetic test
#: docs average ~54 tokens, so 4-grams keep the check non-vacuous at
#: sf0.01 — the plan shape is identical at any n.
_DECON_N = 4
#: The "benchmark" held-out set: every doc with id ≡ 7 (mod 50) — a
#: deterministic ~2% slice standing in for an eval suite.
_DECON_MOD, _DECON_REM = 50, 7
#: ``grams(doc_id, g)``: every document's decontamination n-grams.
_SQL_DECON_GRAMS = rf"""grams AS (
      SELECT doc_id, unnest({_sql_word_ngrams("t", _DECON_N)}) AS g
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
    )"""
#: ``bench(g)``: the distinct n-grams of the held-out slice.
_SQL_DECON_BENCH = f"""bench AS (
      SELECT DISTINCT g FROM grams
      WHERE doc_id % {_DECON_MOD} = {_DECON_REM}
    )"""


@register(
    "llm_decontaminate_overlap",
    oracle=rf"""
    WITH {_SQL_DECON_GRAMS},
    {_SQL_DECON_BENCH},
    corpus AS (
      SELECT doc_id, g FROM grams
      WHERE doc_id % {_DECON_MOD} <> {_DECON_REM}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(b.g) AS BIGINT) AS n_contaminated,
           CAST(COUNT(b.g) AS DOUBLE) / COUNT(*) AS contaminated_frac
    FROM corpus c LEFT JOIN bench b ON c.g = b.g
    GROUP BY doc_id
    HAVING COUNT(b.g) > 0
    """,
)
def llm_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20/J6: benchmark DECONTAMINATION — flag training documents that
    share word n-grams with a held-out benchmark set (the published
    GPT-3/PaLM recipe: any 8-13-gram collision with an eval suite marks
    the training doc). Here the benchmark is a deterministic ~2% doc_id
    slice; output is every contaminated doc with its gram-occurrence
    overlap count and fraction.

    Scale shape: the benchmark gram set is eval-suite-sized (MBs
    against a 100 TB corpus), so it is DISTINCT-ed once and BROADCAST —
    the corpus side is one explode → one broadcast-hash left join → one
    hash aggregate, with no shuffle of the gram stream at all (the
    only exchange is the final doc_id aggregate, and map-side partial
    aggregation collapses each doc's grams to one row per partition
    first). Catalyst pushes the benchmark/corpus doc_id filters below
    the explode, so benchmark docs are only shingled on the small side.
    Counts are exact integers; the fraction is one IEEE divide —
    bitwise cross-engine.
    """
    return decontaminate_overlap(load_table(spark, sf_dir, "documents"))


def decontaminate_overlap(docs: DataFrame) -> DataFrame:
    """The reusable decontamination operator behind
    ``llm_decontaminate_overlap`` over any (doc_id, text) relation."""
    toked = tokenized(docs)
    return decontaminate_overlap_from_tokens(toked)


def decontaminate_overlap_from_tokens(toked: DataFrame) -> DataFrame:
    """Decontamination over a pre-tokenized ``(doc_id, t)`` relation —
    lets a pipeline (``curate_documents``) share ONE tokenized exchange
    across stages instead of re-running the regex split per stage."""
    grams = toked.select(
        "doc_id", F.explode(_word_ngrams(F.col("t"), _DECON_N)).alias("g")
    )
    is_bench = (F.col("doc_id") % _DECON_MOD) == _DECON_REM
    bench = (
        grams.filter(is_bench).select("g").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        grams.filter(~is_bench)
        .join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias(
                "n_contaminated"
            ),
        )
        .filter(F.col("n_contaminated") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double") / F.col("n_grams")
            ).alias("contaminated_frac"),
        )
    )


@register(
    "llm_repetition_signals",
    oracle=rf"""
    WITH grams AS (
      SELECT doc_id, unnest({_sql_word_ngrams("t", 2)}) AS gram
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
    ),
    cnt AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, gram, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram)
               AS rn,
             CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
               AS n_uniq_bigrams
      FROM cnt
    )
    SELECT doc_id, n_bigrams, n_uniq_bigrams,
           gram AS top_bigram,
           CAST(c AS BIGINT) AS top_bigram_count,
           CAST(c AS DOUBLE) / n_bigrams AS top_bigram_frac,
           1.0 - CAST(n_uniq_bigrams AS DOUBLE) / n_bigrams AS dup_bigram_frac
    FROM ranked WHERE rn = 1
    """,
)
def llm_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20: Gopher-style repetition quality signals — per document, the
    mass of the single most frequent word bigram and the fraction of
    bigram occurrences that are repeats (1 − distinct/total). High
    values flag boilerplate/spam for corpus filtering; docs with < 2
    tokens have no bigrams and drop out (both engines agree: exploding
    an empty gram array yields no rows).

    Scale shape: ONE corpus explode → hash-aggregate on (doc, gram)
    (uniform 2-level key, map-side partial combine collapses repeats
    early) → one window pass over doc-keyed partitions computing the
    rank and both totals in the same shuffle. Bigram counts per doc are
    bounded by doc length, so partitions stay small at any corpus size.
    Fractions are IEEE doubles from exact integer inputs — bitwise
    cross-engine.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    grams = toked.select(
        "doc_id", F.explode(_word_ngrams(F.col("t"), 2)).alias("gram")
    )
    cnt = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    by_doc = Window.partitionBy("doc_id")
    ranked = cnt.select(
        "doc_id",
        "gram",
        "c",
        F.row_number()
        .over(by_doc.orderBy(F.desc("c"), "gram"))
        .alias("rn"),
        F.sum("c").over(by_doc).alias("n_bigrams"),
        F.count(F.lit(1)).over(by_doc).alias("n_uniq_bigrams"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        "n_bigrams",
        "n_uniq_bigrams",
        F.col("gram").alias("top_bigram"),
        F.col("c").alias("top_bigram_count"),
        (F.col("c").cast("double") / F.col("n_bigrams")).alias(
            "top_bigram_frac"
        ),
        (
            F.lit(1.0)
            - F.col("n_uniq_bigrams").cast("double") / F.col("n_bigrams")
        ).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# MinHash LSH near-dup (J6) + n-gram Jaccard
# ---------------------------------------------------------------------------

_N_HASHES = 8
_BAND_ROWS = 2  # 4 bands × 2 rows

#: Max docs per LSH bucket before pair expansion. A mass-duplicate
#: cluster (every boilerplate page hashing to one bucket) would
#: otherwise build one row holding the whole cluster AND its quadratic
#: pair array — the classic LSH executor-OOM. Buckets over the cap are
#: dropped whole (their members still pair through their other bands
#: unless those also overflow); the cap bounds any single row to
#: O(cap²) pairs regardless of corpus skew.
_LSH_BUCKET_CAP = 64

# The DuckDB twin of the near-dup chain, one CTE block per stage. Each
# oracle composes the stages it needs (``WITH {_SQL_SHINGLES}, ...``),
# so the hashing, banding and capping rules are written once here.

#: Word 3-gram shingle rows over ``documents``, repeats kept.
_SQL_SHINGLE_ROWS = rf"""SELECT doc_id, unnest({_sql_word_ngrams("t")}) AS s
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)"""
#: ``sh(doc_id, s)``: each document's distinct shingle set.
_SQL_SHINGLES = f"""sh AS (
      SELECT DISTINCT doc_id, s
      FROM (
        {_SQL_SHINGLE_ROWS}
      )
    )"""
#: ``sizes(doc_id, n)``: shingle-set sizes, the Jaccard denominators.
_SQL_SIZES = "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)"
#: ``sig`` (the MinHash signature of ``sh``) and ``bands(doc_id,
#: band_idx, key)``: ``_BAND_ROWS`` signature slots per band key.
_SQL_BANDS = rf"""sig AS (
      SELECT doc_id,
             {", ".join(f"MIN(md5('{i}|' || s)) AS m{i}" for i in range(_N_HASHES))}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(m{2*b} || m{2*b+1}) AS key FROM sig"
        for b in range(_N_HASHES // _BAND_ROWS)
      )}
    )"""
#: ``bsz(band_idx, key)``: the multi-doc buckets within the cap.
_SQL_BUCKETS = f"""bsz AS (
      SELECT band_idx, key FROM bands
      GROUP BY band_idx, key
      HAVING COUNT(*) BETWEEN 2 AND {_LSH_BUCKET_CAP}
    )"""
#: ``cand(doc_a, doc_b)``: candidate pairs sharing a capped bucket.
_SQL_CANDIDATES = """cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bsz USING (band_idx, key)
      JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                  AND a.doc_id < b.doc_id
    )"""
#: ``jac(doc_a, doc_b, jaccard)``: exact shingle Jaccard per candidate.
_SQL_JACCARD = """jac AS (
      SELECT c.doc_a, c.doc_b,
             CAST(COUNT(*) AS DOUBLE)
               / (sa.n + sb.n - COUNT(*)) AS jaccard
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
    )"""
#: ``edges(u, v)`` over ``cand`` both ways and its closure ``reach(a,
#: b)``; needs ``WITH RECURSIVE``.
_SQL_COMPONENTS = """edges AS (
      SELECT doc_a AS u, doc_b AS v FROM cand
      UNION ALL
      SELECT doc_b, doc_a FROM cand
    ),
    reach(a, b) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b
    )"""
#: The verified-pair chain, shingles to ``jac``: the DuckDB twin of the
#: S21+S24 store build.
_SQL_NEARDUP_PAIRS = f"""{_SQL_SHINGLES},
    {_SQL_SIZES},
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    {_SQL_JACCARD}"""


def minhash_candidate_pairs(
    toked: DataFrame, bucket_cap: int = _LSH_BUCKET_CAP
) -> DataFrame:
    """Banded MinHash-LSH candidate pairs over (doc_id, t: array<string>)
    token rows — the reusable operator behind ``llm_minhash_lsh_pairs``.

    Scale design (the one that survives 100 TB): signatures are 8 MIN
    aggregates in ONE groupBy(doc) pass (no per-seed explosion);
    candidates shuffle by (band, band_key) so only same-bucket docs ever
    meet — never an all-pairs comparison. Pair generation is
    bucket-local (sorted doc list per bucket → pair expansion as an
    array expression), which evaluates the signature pipeline once — a
    band self-join would recompute it per side. Buckets are md5 keys,
    so the shuffle is skew-free; ``bucket_cap`` bounds the one remaining
    hazard (a mass-duplicate mega-bucket going quadratic).
    """
    sh = toked.select("doc_id", F.explode(_word_ngrams(F.col("t"))).alias("s"))
    return minhash_candidate_pairs_from_shingles(sh, bucket_cap)


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m7) signature relation from an exploded (doc_id, s)
    shingle relation: 8 MIN aggregates in ONE groupBy(doc) pass (no
    per-seed explosion). MIN over a DISTINCT shingle set equals MIN
    over the raw multiset, so either relation is a valid input."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"m{i}")
            for i in range(_N_HASHES)
        ]
    )


def bands_from_signatures(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, key) banded relation from a signature
    relation — a row-wise md5 projection, no shuffle. Split from
    ``minhash_signatures`` so the S21 store build can persist the
    expensive signature pass and derive bands from the WRITTEN files
    (guaranteeing sigs/bands consistency without re-aggregating)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(F.concat(f"m{2 * b}", f"m{2 * b + 1}")).alias("key"),
                    )
                    for b in range(_N_HASHES // _BAND_ROWS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.key")


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, key) banded-MinHash relation from an exploded
    (doc_id, s) shingle relation — the shared first stage of the pair
    generator and the incremental near-dup admitter."""
    return bands_from_signatures(minhash_signatures(sh))


def minhash_candidate_pairs_from_shingles(
    sh: DataFrame, bucket_cap: int = _LSH_BUCKET_CAP
) -> DataFrame:
    """``minhash_candidate_pairs`` from an already-exploded (doc_id, s)
    shingle relation. Callers that also need the shingle relation for a
    verify stage (``llm_ngram_jaccard_topk``) pass the SAME DataFrame
    here, so the corpus-wide explode happens once in the plan: identical
    subtrees produce identical exchanges, and Spark's ReuseExchange
    executes the shared shuffle once. MIN over a DISTINCT shingle set
    equals MIN over the raw multiset, so either relation is a valid
    input.
    """
    return candidate_pairs_from_bands(minhash_bands(sh), bucket_cap)


def candidate_pairs_from_bands(
    bands: DataFrame, bucket_cap: int = _LSH_BUCKET_CAP
) -> DataFrame:
    """Bucket-capped pair expansion from a (doc_id, band_idx, key)
    banded relation — the shared second stage of the query-time
    generator and the write-time band store's read path
    (``llm_minhash_lsh_pairs_stored``). When ``bands`` is a catalog
    table bucketed on (band_idx, key), the groupBy here is
    exchange-free (the catalog proves the partitioning)."""
    return (
        _bucket_pair_rows(bands, bucket_cap)
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _bucket_pair_rows(bands: DataFrame, bucket_cap: int) -> DataFrame:
    """(band_idx, p): one row per doc pair ``p`` = (doc_a < doc_b) per
    (band_idx, key) bucket of 2..``bucket_cap`` docs — the pair
    expansion of a banded relation, mega-buckets dropped whole."""
    buckets = (
        bands.groupBy("band_idx", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") > 1) & (F.size("ds") <= bucket_cap))
    )
    ds = F.col("ds")
    pairs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return buckets.select("band_idx", F.explode(pairs).alias("p"))


def _capped_buckets(
    rows: DataFrame, keys: list[str], cap: int, min_rows: int = 1
) -> DataFrame:
    """The bucket keys of ``rows`` whose bucket holds at most ``cap``
    rows (and at least ``min_rows``; 2 keeps only buckets that can form
    a pair) — the mega-bucket guard of every LSH/ANN probe. A
    degenerate key (a stop-word band, many identical vectors) would
    otherwise fan its rows out bucket-quadratically; an overflowing
    bucket drops whole, on both engines. The result is one row per
    bucket, small enough to broadcast against the probe side."""
    n = F.col("n")
    keep = n <= cap if min_rows <= 1 else (n >= min_rows) & (n <= cap)
    return (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(keep)
        .select(*keys)
    )


def _admission_verdict(ids: DataFrame, hits: DataFrame, key: str) -> DataFrame:
    """(key, n_corpus_neighbors, admitted) for every batch id in
    ``ids``: an id with no row in ``hits`` (key, n_corpus_neighbors)
    has no corpus neighbor and is admitted — the tail of every
    incremental admission query, batch or streaming."""
    return ids.join(hits, key, "left").select(
        key,
        F.coalesce("n_corpus_neighbors", F.lit(0))
        .cast("long")
        .alias("n_corpus_neighbors"),
        F.col("n_corpus_neighbors").isNull().alias("admitted"),
    )


@register(
    "llm_minhash_lsh_pairs",
    oracle=rf"""
    WITH sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
    FROM bands a
    JOIN bsz USING (band_idx, key)
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def llm_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: MinHash-LSH near-duplicate candidate pairs over word 3-gram
    shingles — 8 hash functions banded 4×2, buckets capped at
    ``_LSH_BUCKET_CAP`` before pair expansion (see
    ``minhash_candidate_pairs`` for the full scale rationale)."""
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    return minhash_candidate_pairs(toked)


@register(
    "llm_ngram_jaccard_topk",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_SIZES},
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    shared AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 50
    """,
)
def llm_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6, the complete two-stage near-dup pipeline: exact word-3-gram
    Jaccard computed ONLY on MinHash-LSH candidate pairs, top-50.

    This is the production composition (LSH recall stage → exact
    verification stage): the quadratic term is bounded by the banded
    candidate generation (see ``minhash_candidate_pairs``), and the
    verification join touches |candidates| × |shingles-per-doc| rows,
    never the corpus square. Candidate pairs whose shingle sets are
    actually disjoint (pure band-hash collisions) drop out in the inner
    intersection join — identical semantics on both engines. MIN
    signatures over the DISTINCT shingle set equal those over the raw
    multiset, so ONE dedup'd inverted index feeds both stages; since
    r18 the verify side reads it as a single packed per-doc ARRAY
    relation (sizes are the array lengths), so the corpus is exploded
    exactly once (pinned by tests/test_plan_hygiene.py).

    Recall bound (documented, not a defect): pairs whose 4 bands never
    collide, or whose every colliding bucket exceeds ``_LSH_BUCKET_CAP``,
    are absent from the top-50 — this is approximate-recall by design
    (tests/test_lsh_recall.py quantifies it vs the exact all-pairs
    computation on the test corpus).
    """
    return _ngram_jaccard_pairs_compute(spark, sf_dir).orderBy(
        F.desc("jaccard"), "doc_a", "doc_b"
    ).limit(50)


def _ngram_jaccard_pairs_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, jaccard) — exact word-3-gram Jaccard
    over the S21 band-store candidate pairs; the QUERY-TIME verify
    stage. ``llm_ngram_jaccard_topk`` runs it per query (the family's
    always-verified twin); the S24 store writer runs it once and the
    audit consumers read the stored result
    (``_ngram_jaccard_pairs_stored``)."""
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    sh = (
        toked.select("doc_id", F.explode(_word_ngrams(F.col("t"))).alias("s"))
        .distinct()
    )
    # r18 (the r17 setsim-verify lesson, guide §2.3): verify with
    # per-doc shingle ARRAYS instead of exploded per-shingle rows. The
    # old verify streamed |candidates| × |shingles-per-doc| rows
    # through two sort-merge joins (the (doc_b, s)-keyed exchange of
    # that exploded intermediate was the query's biggest shuffle) and
    # then re-aggregated to pair grain; a doc's distinct shingle set
    # packs into one array row, so attaching two arrays per candidate
    # pair and intersecting IN-ROW moves the same bytes at
    # 1/|shingles| the row count, drops the pair re-aggregation, and
    # the sizes aggregate rides along as array lengths (two joins and
    # one corpus aggregate fewer). A pure band-hash collision pair has
    # an empty intersection — dropped by the n_shared >= 1 filter,
    # exactly the rows the old INNER intersection join never produced.
    # Clean-session A/B: 4.93 s -> 1.9 s. SORT-MERGE hints stay: every
    # relation here is corpus-proportional (the r6 scale-probe lesson —
    # a size-estimated broadcast here is fatal at scale); the packed
    # docsets feed both sides of the pair attach, so they are pinned.
    # Candidates from the S21 band store (round 11): the signature
    # MIN-aggregate never runs at query time.
    docsets = pin(
        sh.groupBy("doc_id").agg(F.collect_list("s").alias("ss"))
    )
    cand = (
        minhash_candidate_pairs_stored(spark, sf_dir)
        .select("doc_a", "doc_b")
        .hint("merge")
    )
    da = docsets.select(
        F.col("doc_id").alias("da"), F.col("ss").alias("ssa")
    ).hint("merge")
    db = docsets.select(
        F.col("doc_id").alias("db"), F.col("ss").alias("ssb")
    ).hint("merge")
    return (
        cand.join(da, F.col("doc_a") == F.col("da"))
        .join(db, F.col("doc_b") == F.col("db"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ssa", "ssb")).cast("long").alias(
                "n_shared"
            ),
            F.size("ssa").alias("na"),
            F.size("ssb").alias("nb"),
        )
        .filter(F.col("n_shared") >= 1)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


@register(
    "llm_cluster_best_representative",
    oracle=rf"""
    WITH RECURSIVE sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    {_SQL_COMPONENTS},
    clusters AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    qual AS (
      SELECT doc_id,
             CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
               AS type_token_ratio
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
      WHERE len(t) > 0
    )
    SELECT cluster_id, doc_id AS best_doc, type_token_ratio AS best_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT c.cluster_id, c.doc_id, q.type_token_ratio,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
             ROW_NUMBER() OVER (
               PARTITION BY c.cluster_id
               ORDER BY q.type_token_ratio DESC, c.doc_id
             ) AS rn
      FROM clusters c JOIN qual q USING (doc_id)
    )
    WHERE rn = 1
    """,
)
def llm_cluster_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 composed with F20: pick the BEST-QUALITY document per
    near-dup cluster instead of the arbitrary min-id canonical — what a
    curation pipeline actually wants to keep from each duplicate group
    (min-id keeps whichever copy happened to get the smallest id; this
    keeps the copy with the highest type-token ratio, ties broken by
    id). Emits one row per cluster: representative, its quality, and
    the cluster size.

    Scale shape: the cluster relation is the already-audited LSH + CC
    pipeline (~|duplicated docs| rows, far smaller than the corpus);
    the quality signal is a per-row map expression joined on doc_id;
    the per-cluster argmax is one hash aggregate via ``max_by`` over a
    (quality, −doc_id) struct (partials merge map-side — no per-cluster
    sort). Quality is a double ratio of exact ints, so the cross-engine
    argmax ordering is bitwise-safe.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    # cluster relation from the CLUSTER store (one CC solve per corpus,
    # candidates from the S21 band store); only the quality signal
    # still reads the corpus — a per-row projection, no signature pass
    comp = neardup_components_stored(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), "cluster_id"
    )
    t = F.col("t")
    qual = toked.filter(F.size(t) > 0).select(
        "doc_id",
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias(
            "type_token_ratio"
        ),
    )
    joined = comp.join(qual, "doc_id")
    # argmax by (quality DESC, doc_id ASC) == max_by over the ordering
    # struct (quality, -doc_id); both components exact
    okey = F.struct(
        F.col("type_token_ratio").alias("q"),
        (-F.col("doc_id")).alias("negid"),
    )
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.max_by(F.col("doc_id"), okey).alias("best_doc"),
            F.max_by(F.col("type_token_ratio"), okey).alias("best_quality"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
    )


#: Near-containment threshold: |A ∩ B| / min(|A|, |B|).
_CONTAIN_THR = 0.9


@register(
    "llm_containment_pairs",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_SIZES},
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    shared AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / LEAST(sa.n, sb.n) >= {_CONTAIN_THR}
    """,
)
def llm_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 EXT: CONTAINMENT detection — pairs where one document's
    shingle set is (nearly) a subset of the other's: |A∩B| / min(|A|,
    |B|) ≥ {_CONTAIN_THR}. Jaccard under-scores a short doc embedded
    in a long one (the union dominates); the containment coefficient
    is the right statistic for quote/boilerplate/subset duplication —
    the Lee et al. substring-dup case at document granularity.

    Scale shape: identical to ``llm_ngram_jaccard_topk`` (same LSH
    candidate stage, same single shared shingle relation, same
    sort-merge-pinned verify joins — both sides of every verify join
    are corpus-proportional); only the closing statistic differs.
    Recall bound: containment pairs whose MinHash signatures never
    band-collide are missed — for true subset pairs the signature
    match probability is the containment-adjusted Jaccard, which this
    corpus's exact-duplicate family passes (pinned by row count in the
    pytest sweep).
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    sh = (
        toked.select("doc_id", F.explode(_word_ngrams(F.col("t"))).alias("s"))
        .distinct()
    )
    # NOT checkpointed (neither sh nor sizes): A/B-measured negative
    # both ways — the merge-hinted verify joins re-exchange the
    # shingle stream regardless, so an eager materialization job only
    # serializes a DAG whose subtrees otherwise overlap.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # candidates from the S21 band store: the signature MIN-aggregate
    # never runs at query time; the shingle relation above feeds only
    # the containment verify joins (which genuinely need the shingles)
    cand = (
        minhash_candidate_pairs_stored(spark, sf_dir)
        .select("doc_a", "doc_b")
        .hint("merge")
    )
    x, y = sh.alias("x"), sh.alias("y").hint("merge")
    shared = (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(
            y,
            (F.col("doc_b") == F.col("y.doc_id"))
            & (F.col("y.s") == F.col("x.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa").hint("merge")
    sb = sizes.alias("sb").hint("merge")
    containment = F.col("n_shared").cast("double") / F.least(
        F.col("sa.n"), F.col("sb.n")
    )
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAIN_THR)
    )


#: Escalation floor for the hybrid: min-label keeps going while its
#: per-round changed-label count is HALVING (geometric decay = the
#: bucket-local clique regime where min-label beats star ~2x measured:
#: 2.16 s vs 4.02 s at sf0.1 for llm_neardup_clusters — and the decay
#: bounds total rounds at O(log changed_1)); it escalates to star
#: contraction the first time the count fails to halve while still
#: exceeding this floor (arithmetic decay = long-diameter topology,
#: where min-label is O(diameter)). Below the floor the tail is nearly
#: done — a fixed round-count switch here would pay 4 wasted rounds
#: PLUS a full star re-solve on graphs that were one round from the
#: fixpoint (measured: llm_embedding_neardup_clusters 4.2 s → 6.7 s,
#: the r8 bench regression this rule fixed; its decay is 45→9→2→1→0).
_CC_ESCALATE_MIN_CHANGED = 64


def connected_components(pairs: DataFrame, max_iter: int = 12) -> DataFrame:
    """Distributed connected components over an undirected ``(doc_a,
    doc_b)`` edge relation. HYBRID strategy (r7 VERDICT item #4): run
    min-label propagation — the measured-fastest path on the
    bucket-local clique graphs banded LSH emits — while its changed-
    label count keeps HALVING each round (geometric decay bounds the
    min-label phase at O(log n) rounds by itself); the first round the
    count fails to halve while still above ``_CC_ESCALATE_MIN_CHANGED``
    is the long-diameter signature, and the solve restarts as
    alternating large-star/small-star contraction
    (``connected_components_star``), O(log n) rounds on ANY topology.
    Worst case is therefore O(log n) either way — a 10k-node path no
    longer costs 10k shuffles (pinned by test_connected_components.py's
    10k-path test) — while near-converged LSH graphs never pay the
    star re-solve (the decay test, not a fixed round budget, decides).
    Returns ``(doc_id, cluster_id)`` where ``cluster_id`` is the
    component's minimum doc id — the canonical representative a dedup
    pipeline keeps.

    Scale design: each round is one shuffle-join (edges × labels on the
    source id) plus one min-aggregate on the destination id — both hash
    partitions on uniformly-distributed doc ids, so rounds reuse the
    same partitioning with no skew. ``pin`` truncates the lineage each
    round (an iterative plan would otherwise double in depth per
    round). Near-dup graphs from banded LSH are bucket-local cliques,
    so diameters are tiny and the fixpoint lands in 2-3 rounds; plain
    min-propagation needs O(diameter) rounds, and an adversarial
    long-path graph would want the large-star/small-star variant
    (O(log n) rounds) — the round structure below is the same, only
    the message set changes.

    Driver-side work per round is ONE scalar (the has-any-label-changed
    probe), and it rides the round's own checkpoint job as an observed
    metric — each round is exactly ONE Spark job: iteration control
    costs no extra data movement and no extra job launch.
    """
    from pyspark.sql import Observation

    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    sym = pin(
        edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )

    def _round(msgs: DataFrame) -> tuple[DataFrame, int]:
        # neighbor messages carry own=false; a doc's current label rides
        # along tagged own=true, so ONE aggregate yields both the new
        # label (min over everything) and the previous one (min over the
        # own rows — at least one per doc). The convergence probe is an
        # observed metric on the same plan, so the eager checkpoint's
        # job reports it for free: no probe job, no extra scan.
        # (Eager checkpoint: measured FASTER than lazy at sf0.1 — the
        # lazy variant re-executes the round's plan in both the probe
        # and the next round's first action, paying the "saved" job
        # twice.)
        obs = Observation()
        new_labels = pin(
            msgs.groupBy("doc")
            .agg(
                F.min("lbl").alias("lbl"),
                F.min(F.when(F.col("own"), F.col("lbl"))).alias("prev"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum((F.col("lbl") < F.col("prev")).cast("long")),
                    F.lit(0),
                ).alias("changed"),
            )
        )
        return new_labels.select("doc", "lbl"), int(obs.get["changed"])

    # Round 1 fused with initialization: with every label starting as
    # the node's own id, the first round's neighbor messages ARE the
    # symmetric edge list itself ((v, lbl=u)), and the own rows are
    # (v, lbl=v) — no distinct-node materialization, no identity join,
    # one job where init + round 1 would take three.
    first = sym.select(
        F.col("v").alias("doc"), F.col("u").alias("lbl"),
        F.lit(False).alias("own"),
    ).unionByName(
        sym.select(
            F.col("v").alias("doc"), F.col("v").alias("lbl"),
            F.lit(True).alias("own"),
        )
    )
    labels, changed = _round(first)
    for _ in range(max_iter - 1):
        if changed == 0:
            break
        prev_changed = changed
        nbr = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.u") == F.col("l.doc"))
            .select(
                F.col("e.v").alias("doc"),
                F.col("l.lbl").alias("lbl"),
                F.lit(False).alias("own"),
            )
        )
        labels, changed = _round(
            nbr.unionByName(labels.withColumn("own", F.lit(True)))
        )
        if changed > _CC_ESCALATE_MIN_CHANGED and 2 * changed > prev_changed:
            # Long-diameter signature: the changed count failed to
            # halve while many labels are still moving (a path graph
            # decays arithmetically — n, n-1, n-2, …). The rounds spent
            # are sunk; star contraction re-solves the original pairs
            # in O(log n) regardless of topology. Star gets at LEAST
            # its own default alternation budget: it needs O(log n)
            # rounds no matter how small the min-label budget was.
            return connected_components_star(pairs, max_iter=max(max_iter, 20))
    if changed:
        # Budget exhausted without convergence (r8 ADVICE): a slow
        # arithmetic decay that stays UNDER the escalation floor —
        # e.g. a ~40-node path whose per-round changed count never
        # exceeds _CC_ESCALATE_MIN_CHANGED — would otherwise return
        # unconverged (wrong) labels silently. Escalate here too, so
        # the O(log n) worst-case claim holds unconditionally.
        return connected_components_star(pairs, max_iter=max(max_iter, 20))
    return labels.select("doc", F.col("lbl").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    max_iter: int = 20,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log n)-round variant ``connected_components``
    documents as the upgrade for adversarial graphs: plain min-label
    propagation needs O(diameter) rounds, so a 10^6-node path costs
    10^6 shuffles; star contraction halves long chains every pair of
    rounds regardless of topology.

    Per round each node computes the minimum of its closed neighborhood
    and re-points a subset of neighbors at it (strictly-larger
    neighbors in the large-star round; smaller-or-equal ones, plus
    itself, in the small-star round). Both rounds are one groupBy +
    re-emit over the edge relation — the same shuffle shape as a round
    of min-label, there are just exponentially fewer of them. At the
    fixpoint the edge set is a star forest: every non-root points
    directly at its component minimum.

    Equivalence with min-label (and with the union-find property
    oracle) plus the round-count advantage on a long path are pinned in
    tests/test_connected_components.py / test_components_property.py.
    """
    edges = pin(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # every node that appears anywhere — singletons of the PAIR graph
    # don't exist by construction, but roots must survive contraction
    nodes = pin(
        edges.select(F.col("u").alias("doc"))
        .unionByName(edges.select(F.col("v").alias("doc")))
        .distinct()
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _closed_min(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    for _ in range(max_iter):
        prev_edges = edges
        sym = _sym(edges)
        mins = _closed_min(sym)
        # large-star: strictly larger neighbors re-point at the closed min
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        edges = pin(
            large.filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: smaller-or-equal neighbors AND the node itself
        sym = _sym(edges)
        mins = _closed_min(sym)
        grouped = sym.filter(F.col("v") <= F.col("u")).join(mins, "u")
        small = grouped.select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).unionByName(
            grouped.select(F.col("u"), F.col("m").alias("v")).distinct()
        )
        edges = pin(
            small.filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # fixpoint = the (distinct) edge relation is literally unchanged
        # — an exact set comparison over the two checkpointed relations,
        # one tiny job on star-forest-sized data
        if rounds_out is not None:
            rounds_out.append(1)
        if (
            edges.exceptAll(prev_edges)
            .unionByName(prev_edges.exceptAll(edges))
            .limit(1)
            .count()
            == 0
        ):
            break

    # non-roots point at their root; roots label themselves
    return nodes.join(
        edges.select(F.col("u").alias("doc"), F.col("v").alias("root")),
        "doc",
        "left",
    ).select(
        "doc", F.coalesce("root", "doc").alias("cluster_id")
    )


@register(
    "llm_neardup_clusters",
    oracle=rf"""
    WITH RECURSIVE sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    {_SQL_COMPONENTS}
    SELECT a AS doc_id,
           LEAST(a, MIN(b)) AS cluster_id,
           a = LEAST(a, MIN(b)) AS is_canonical
    FROM reach
    GROUP BY a
    """,
)
def llm_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/J6 composed end-to-end: near-duplicate CLUSTERS — banded
    MinHash-LSH candidate pairs (``minhash_candidate_pairs``) fed into
    distributed connected components (``connected_components``), with
    the component-minimum doc id as the canonical representative. This
    is the step a training-data dedup pipeline actually ships: pairs
    alone over-count (A~B~C is one cluster, not two independent pairs),
    and "keep one doc per cluster" needs the transitive closure.

    Oracle: the identical candidate graph closed by a recursive CTE
    (DuckDB), min per reachability set — an independent fixpoint
    formulation of the same components. Only docs with at least one
    candidate pair appear (singletons are trivially their own cluster).

    Round 11: candidates come from the S21 band store and the solved
    labels persist in the CLUSTER store (``neardup_components_stored``)
    — the corpus signature pass and the iterative CC solve each run
    once per corpus, not once per query. Physical-layout change only:
    the oracle is unchanged.
    """
    comp = neardup_components_stored(spark, sf_dir)
    return comp.select(
        F.col("doc").alias("doc_id"),
        "cluster_id",
        (F.col("doc") == F.col("cluster_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Vector similarity (F21) + ANN bucketing
# ---------------------------------------------------------------------------

_QUERY_VEC_ID = 7


#: Fixed-point scale for exact vector arithmetic: each component is
#: quantized to 1e-6 (via a deterministic double→DECIMAL(18,6) cast that
#: Spark and DuckDB agree on bit-for-bit), then all dot products / norms
#: are EXACT int64 sums. The resulting integers stay far below 2^53, so
#: the final int→double conversion is exact on both engines and the
#: cosine/sqrt math is bitwise-reproducible IEEE-754.
_FP = 1_000_000

#: Embedding dimensionality of the test corpus (shared with the
#: hyperplane weights and the centroid oracle's range(1, 65)).
_EMB_DIM = 64

_SQL_ISCALE = (
    f"CAST(CAST(CAST({{v}} AS DOUBLE) AS DECIMAL(18,6)) * {_FP} AS BIGINT)"
)


def _iscale(c: Column) -> Column:
    return (c.cast("double").cast("decimal(18,6)") * _FP).cast("long")


def _long_sum(arr: Column) -> Column:
    """Exact int64 sum of an integer array: THE fold every fixed-point
    kernel ends in. The int64 seed keeps the fold type-stable (the
    merge must return the seed's type, so int elements widen to
    long), and integer addition is order-free, so the sum is bitwise
    DuckDB's ``list_aggregate(.., 'sum')`` cast to BIGINT."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact fixed-point dot product of two RAW double arrays as int64."""
    return _long_sum(F.zip_with(a, b, lambda x, y: _iscale(x) * _iscale(y)))


def _sv_dot(a: Column | str, b: Column | str) -> Column:
    """Exact int64 dot of two PRE-SCALED (``_iscale``d) arrays."""
    return _long_sum(F.zip_with(a, b, lambda x, y: x * y))


def _sign_hamming(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between the sign sketches of two scaled arrays."""
    return _long_sum(
        F.zip_with(a, b, lambda x, y: ((x >= 0) != (y >= 0)).cast("long"))
    )


def _pair_cosine(l: str, r: str) -> Column:
    """Exact fixed-point cosine between the ``sv``/``nrm`` rows of the
    join sides aliased ``l`` and ``r``: int64 dot → one IEEE division."""
    return _sv_dot(f"{l}.sv", f"{r}.sv").cast("double") / (
        F.col(f"{l}.nrm") * F.col(f"{r}.nrm")
    )


def _scaled(emb: DataFrame) -> DataFrame:
    """(vec_id, sv): every embedding as fixed-point int64 components."""
    return emb.select("vec_id", F.transform("embedding", _iscale).alias("sv"))


def _emb_encode(emb: DataFrame, n_planes: int | None = None) -> DataFrame:
    """(vec_id, sv[, bucket], nrm) — the per-vector encode of the ANN
    family: the scaled vector, its ``n_planes``-plane sign bucket when
    a plane count is given, and its exact norm. Bucket bits and norm
    read the ONE shared ``sv`` column (see ``_bucket_expr``)."""
    enc = _scaled(emb)
    if n_planes is not None:
        enc = enc.select(
            "vec_id", "sv", _bucket_expr(n_planes=n_planes).alias("bucket")
        )
    return enc.select(
        *enc.columns, F.sqrt(_sv_dot("sv", "sv").cast("double")).alias("nrm")
    )


def _sql_int_dot(a: str, b: str) -> str:
    xa = _SQL_ISCALE.format(v="x[1]")
    xb = _SQL_ISCALE.format(v="x[2]")
    return (
        f"CAST(list_aggregate(list_transform(list_zip({a}, {b}), "
        f"x -> {xa} * {xb}), 'sum') AS BIGINT)"
    )


@register(
    "llm_cosine_topk_bruteforce",
    oracle=rf"""
    WITH q AS (
      SELECT embedding AS qe,
             {_sql_int_dot("embedding", "embedding")} AS nq
      FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
    ),
    d AS (
      SELECT e.vec_id, e.label,
             len(e.embedding) AS n_dims,
             {_sql_int_dot("e.embedding", "q.qe")} AS dot,
             {_sql_int_dot("e.embedding", "e.embedding")} AS na,
             q.nq AS nq
      FROM embeddings e, q
      WHERE e.vec_id <> {_QUERY_VEC_ID}
    )
    SELECT vec_id, label, n_dims,
           sqrt(CAST(na AS DOUBLE)) / {_FP} AS l2_norm,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))) AS cosine
    FROM d
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def llm_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21+O5 (+F19 vector scalars): brute-force cosine top-k against a
    query vector — the exact ANN baseline (fixed-point: see ``_FP``) —
    with each hit's dimensionality and exact L2 norm (int64 sum of
    squares, order-free; sqrt + rescale in doubles at the end).

    Scale shape: the 1-row query vector broadcasts; every candidate is
    scored in a single map stage (type-stable int64 ``aggregate`` fold,
    no explode, no shuffle) and only the 10-row TakeOrderedAndProject
    moves data. The query self-norm ``nq`` is constant per query, so it
    is computed ONCE on the 1-row broadcast side and carried through the
    join — not re-folded per scanned row. At 100 TB the same plan holds
    — or the scoring moves to an Arrow-batched pandas UDF for raw
    throughput with the identical dataflow.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"),
        _int_dot("embedding", "embedding").alias("nq"),
    )
    scored = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.size("embedding").alias("n_dims"),
            _int_dot("embedding", "qe").alias("dot"),
            _int_dot("embedding", "embedding").alias("na"),
            "nq",
        )
    )
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nq").cast("double"))
    )
    l2 = F.sqrt(F.col("na").cast("double")) / _FP
    return (
        scored.select(
            "vec_id", "label", "n_dims", l2.alias("l2_norm"), cosine.alias("cosine")
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


@register(
    "llm_tfidf_top_terms",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf,
           tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf
    FROM tf JOIN df USING (term), n
    ORDER BY tfidf DESC, doc_id, term
    LIMIT 20
    """,
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20: TF-IDF scoring — term frequency per doc × smoothed inverse
    document frequency, top-20 scores. Exactness: tf/df/N are integer
    aggregates; the ln/multiply runs per-row IEEE on identical integer
    inputs, so scores are bitwise-reproducible across engines.

    Scale shape: ONE pass over the token explode — tf aggregates on
    (doc, term), and df re-aggregates tf (tf is already unique per
    (doc, term), so COUNT(*) per term IS the document frequency; a
    separate countDistinct over the raw tokens would re-scan and
    re-explode the corpus). df joins back via the term key (broadcast
    while the vocabulary is small, shuffle-join on term otherwise — AQE
    decides), N broadcasts as a 1-row frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.col("tf") * (
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
        + F.lit(1.0)
    )
    return (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .select("doc_id", "term", "tf", tfidf.alias("tfidf"))
        .orderBy(F.desc("tfidf"), "doc_id", "term")
        .limit(20)
    )


def cosine_topk_pandas(emb: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """The documented scale-path twin of ``llm_cosine_topk_bruteforce``:
    scoring via an Arrow-batched pandas UDF (numpy matrix-vector dot per
    record batch) with the IDENTICAL dataflow — broadcast query, one map
    stage, TakeOrderedAndProject. Use when raw Python-side throughput
    beats expression evaluation (very wide vectors); the expression
    version stays the oracle-checked reference. Equivalence (same ids,
    same cosines to float tolerance) is pinned in
    tests/test_llm_pandas_twin.py.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt(q @ q))

    @pandas_udf("double")
    def score(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dims) float matrix
        dots = m @ q
        norms = np.sqrt((m * m).sum(axis=1))
        return pd.Series(dots / (norms * qn))

    return (
        emb.select("vec_id", "label", score("embedding").alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


#: Query-set ids for the k-NN join (a retrieval/eval batch, not a
#: single probe) and neighbors kept per query.
_KNN_QUERY_IDS = (1, 2, 3)
_KNN_K = 5
#: Salt fan-out for the two-phase per-query top-k. Phase 1 keeps the
#: local top-k inside each (query, salt) slice, so no single partition
#: ever holds a query's full candidate list; phase 2 ranks the ≤ k·S
#: survivors. The final rows are salt-independent by construction —
#: every global top-k member is also top-k within its own salt slice.
_KNN_SALTS = 8


@register(
    "llm_knn_join_topk",
    oracle=rf"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe,
             {_sql_int_dot("embedding", "embedding")} AS nq
      FROM embeddings
      WHERE vec_id IN {_KNN_QUERY_IDS}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             CAST({_sql_int_dot("e.embedding", "q.qe")} AS DOUBLE)
               / (sqrt(CAST({_sql_int_dot("e.embedding", "e.embedding")}
                            AS DOUBLE))
                  * sqrt(CAST(q.nq AS DOUBLE))) AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id
             ) AS rank
      FROM scored
    )
    WHERE rank <= {_KNN_K}
    """,
)
def llm_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21+O5: k-NN JOIN — top-k cosine neighbors for a SET of query
    vectors at once (the retrieval-eval / dedup-against-heldout shape),
    not the single-probe ``llm_cosine_topk_bruteforce``.

    Scale shape: the query set broadcasts (Q rows) and every candidate
    is scored in one map stage — the candidate self-norm is hoisted
    BEFORE the fan-out so it is computed once per vector, not once per
    (vector, query); the query self-norms ride the broadcast side. The
    per-query top-k then runs in TWO phases: phase 1 ranks inside
    (query, salt) slices — bounded partitions regardless of corpus
    size — and phase 2 ranks the ≤ k·S survivors per query. A
    single-phase window would funnel all N scored rows of each query
    into one partition: the classic top-k skew at 1e9 candidates. The
    salt never changes the answer (a global top-k row is top-k in its
    own slice); the DuckDB oracle states the salt-free semantics.
    Cosines are IEEE doubles from exact fixed-point integer sums —
    bitwise cross-engine, so the (cosine DESC, vec_id) tie-break is
    deterministic.
    """
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(*_KNN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _int_dot("embedding", "embedding").alias("nq"),
    )
    cand = emb.select(
        "vec_id", "embedding", _int_dot("embedding", "embedding").alias("na")
    )
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nq").cast("double"))
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "na",
            "nq",
            _int_dot("embedding", "qe").alias("dot"),
        )
        .select("query_id", "vec_id", cosine.alias("cosine"))
    )
    salt = F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(_KNN_SALTS))
    local = Window.partitionBy("query_id", "salt").orderBy(
        F.desc("cosine"), "vec_id"
    )
    survivors = (
        scored.withColumn("salt", salt)
        .withColumn("rn", F.row_number().over(local))
        .filter(F.col("rn") <= _KNN_K)
    )
    final = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        survivors.select("query_id", "vec_id", "cosine")
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= _KNN_K)
    )


@register("llm_ml_minhash_join", oracle=None)
def llm_ml_minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 via spark.ml: HashingTF token features → MinHashLSH →
    approxSimilarityJoin under a Jaccard-distance threshold — the
    built-in LSH operator as a cross-check of the custom banded
    implementation (rows-only: ml hash seeds are engine-internal).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("toks")
    )
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 14)
    feats = tf.transform(docs).filter(F.size("toks") >= 3)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            "jaccard_dist",
        )
    )


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata, mapInPandas stages)
# ---------------------------------------------------------------------------


@register("llm_multimodal_image_features", oracle=None)
def llm_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal EXT: Arrow-batched image feature extraction over the
    SF-PROPORTIONAL media corpus derived from the documents table
    (media_id = doc_id, payload a pure function of the id, built with
    JVM column expressions over the documents scan) — binary payload
    column + typed metadata struct, kind-filter pushed before the
    Python boundary (rows-only: binary/codec stages have no SQL
    oracle; goldens in tests/test_multimodal.py)."""
    from ..sources import multimodal as mm

    return mm.extract_image_features(mm.media_from_documents(spark, sf_dir))


@register("llm_multimodal_audio_features", oracle=None)
def llm_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal EXT: windowed audio amplitude statistics over the
    sf-proportional media corpus — binary payload + typed metadata,
    kind-filter pushed before the Arrow boundary (rows-only: codec
    stages have no SQL oracle; goldens in tests/test_multimodal.py)."""
    from ..sources import multimodal as mm

    return mm.extract_audio_features(mm.media_from_documents(spark, sf_dir))


@register("llm_multimodal_resize", oracle=None)
def llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal EXT: image resize stage — Arrow-batched 1→1 with
    fixed target dims; the pixel kernel is stubbed deterministically
    pending a real codec (rows-only: goldens in
    tests/test_multimodal.py)."""
    from ..sources import multimodal as mm

    return mm.resize_images(mm.media_from_documents(spark, sf_dir), 32, 32)


@register("llm_multimodal_frame_sampling", oracle=None)
def llm_multimodal_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal EXT: video frame sampling — 1→N fan-out inside one
    Arrow pass (every 500 ms), frame payloads stubbed deterministically
    pending a real codec (rows-only)."""
    from ..sources import multimodal as mm

    return mm.sample_video_frames(
        mm.media_from_documents(spark, sf_dir), every_ms=500
    )


#: FLOOR hyperplane count for the sign-bucket LSH; the effective count
#: self-sizes via ``adaptive_planes`` below. Registered oracles bake
#: this floor because every driver/test corpus derives it
#: (tests/test_adaptive_planes.py pins that equality).
_N_PLANES = 8

#: Target bucket occupancy the adaptive rule sizes for: candidate
#: generation is bucket-quadratic, so ~1e4-vector buckets keep the
#: within-bucket work bounded while leaving enough co-residents for
#: recall.
_PLANES_TARGET_BUCKET = 10_000


def adaptive_planes(
    n_vectors: int,
    target_bucket: int = _PLANES_TARGET_BUCKET,
    floor: int = _N_PLANES,
) -> int:
    """Self-sizing hyperplane count (r7 VERDICT item #5): buckets =
    2^planes and candidate generation is bucket-quadratic, so the plane
    count must grow with the corpus —

        planes = max(floor, ceil(log2(N / target_bucket)))

    e.g. 1e9 vectors targeting 1e4-vector buckets → 17 planes; every
    corpus below ``floor_threshold = target_bucket << floor`` (2.56 M
    vectors at the defaults) stays at the 8-plane floor, which is why
    the DuckDB oracles can bake ``_N_PLANES`` — the sf0.01/sf0.1 driver
    corpora all derive the floor. The ANN query family derives its
    count from a metadata-cheap ``count()`` on the embedding scan, so a
    100 TB corpus self-sizes with no hand-set constant."""
    import math

    if n_vectors <= target_bucket:
        return floor
    return max(floor, math.ceil(math.log2(n_vectors / target_bucket)))


def _planes_at_oracle_floor(n_vectors: int, query: str) -> int:
    """Derive the adaptive plane count and FAIL FAST if it has left the
    ``_N_PLANES`` floor the registered DuckDB oracles bake (r8 ADVICE):
    beyond ``_PLANES_TARGET_BUCKET << _N_PLANES`` vectors (2.56 M at
    the defaults) the Spark plan would use more planes than the oracle
    and the driver row would mismatch at run time with no hint why.
    Raising here turns that silent divergence into an actionable error;
    unregistered callers (``ann_cosine_pairs`` et al.) keep self-sizing
    freely."""
    n_planes = adaptive_planes(n_vectors)
    if n_planes != _N_PLANES:
        raise ValueError(
            f"{query}: corpus of {n_vectors} vectors derives "
            f"{n_planes} hyperplanes but the registered oracle bakes "
            f"the {_N_PLANES}-plane floor; use the unregistered "
            "operator form (adaptive planes) for corpora beyond "
            f"{_PLANES_TARGET_BUCKET << _N_PLANES} vectors"
        )
    return n_planes

#: Max vectors per hyperplane bucket admitted to the pair join — the
#: same mega-bucket guard as ``_LSH_BUCKET_CAP``: a degenerate corpus
#: (many identical embeddings) lands in one bucket and would go
#: quadratic regardless of plane count. Overflowing buckets drop whole.
_ANN_BUCKET_CAP = 1024


def _plane_weights(plane: int, prefix: str = "") -> list[int]:
    """Deterministic pseudo-random ±1 hyperplane weights: parity of the
    first hex digit of md5('<prefix><plane>-<dim>'). Computed ONCE in
    driver Python and embedded as array literals — the weights are
    constants, and deriving them with per-row md5 expressions costs
    planes×dims (512) hash calls per ROW for identical output. The
    DuckDB oracle keeps the md5 derivation inline, so hash parity
    proves the literal weights equal the definitional ones. ``prefix``
    seeds independent tables for multi-table LSH ('' = the base
    single-table planes)."""
    import hashlib

    return [
        1
        if hashlib.md5(f"{prefix}{plane}-{d}".encode()).hexdigest()[0]
        in "02468ace"
        else -1
        for d in range(1, _EMB_DIM + 1)
    ]


def _sql_plane_dot(plane: int, prefix: str = "") -> str:
    """Plane dot over a precomputed scaled-vector column ``sv``. The ±1
    weight derivation stays inline (md5 parity per dim), so oracle hash
    parity proves the Spark-side literal weights equal the definitional
    ones."""
    return (
        "list_aggregate(list_transform(range(1, 65), d -> "
        f"(CASE WHEN contains('02468ace', substr(md5('{prefix}{plane}-' || d), 1, 1)) "
        "THEN 1 ELSE -1 END) * sv[d]), 'sum')"
    )


def _plane_dot(p: int, sv: Column | str = "sv", prefix: str = "") -> Column:
    """Exact dot of the PRE-SCALED fixed-point vector with plane p's ±1
    weights. Callers must compute the scaled vector once and share it
    across all planes — rescaling the raw embedding inside each plane
    dot costs ``_N_PLANES``× the double→decimal→long conversion work for
    identical output (the r3 bench regression)."""
    warr = F.array(*[F.lit(w) for w in _plane_weights(p, prefix=prefix)])
    return _long_sum(F.zip_with(sv, warr, lambda x, w: x * w))


def _bucket_expr(
    sv: Column | str = "sv", prefix: str = "", n_planes: int = _N_PLANES
) -> Column:
    """The n_planes-plane sign bucket over a shared scaled vector.

    Plan economy: evaluate this in a SELECT *after* the projection that
    computes ``sv`` — CollapseProject keeps a multi-referenced non-cheap
    column shared (verified: one ``transform`` in the optimized plan),
    so the 64 casts run once per row, not once per plane."""
    return F.concat(
        *[
            F.when(_plane_dot(p, sv, prefix) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for p in range(n_planes)
        ]
    )


def _sql_bucket_expr(n_planes: int = _N_PLANES, prefix: str = "") -> str:
    """DuckDB twin of ``_bucket_expr`` over a scaled-vector column
    ``sv`` — shared by the registered oracles (at the ``_N_PLANES``
    floor) and the adaptive-plane parity tests (at derived counts), so
    the two sides can never disagree on the bucket-bit construction."""
    return " || ".join(
        f"(CASE WHEN {_sql_plane_dot(p, prefix)} >= 0 THEN '1' ELSE '0' END)"
        for p in range(n_planes)
    )

# The DuckDB twin of the hyperplane ANN chain, one CTE block per stage.

#: ``s(vec_id, sv)``: every embedding as scaled integers.
_SQL_SCALED = rf"""s AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> {_SQL_ISCALE.format(v="x")}) AS sv
      FROM embeddings
    )"""
#: Over ``s``: ``b`` (bucket per vector), ``n`` (with its norm) and
#: ``ok(bucket)``, the multi-vector buckets within ``_ANN_BUCKET_CAP``.
_SQL_ANN_BUCKETS = f"""b AS (
      SELECT vec_id, sv,
             {_sql_bucket_expr()} AS bucket
      FROM s
    ),
    n AS (
      SELECT vec_id, sv, bucket,
             sqrt(CAST(CAST(list_aggregate(
               list_transform(list_zip(sv, sv), x -> x[1] * x[2]),
               'sum') AS BIGINT) AS DOUBLE)) AS nrm
      FROM b
    ),
    ok AS (
      SELECT bucket FROM b GROUP BY bucket
      HAVING COUNT(*) BETWEEN 2 AND {_ANN_BUCKET_CAP}
    )"""


_NEAR_DUP_COSINE = 0.3


@register(
    "llm_ann_bucketed_cosine_pairs",
    oracle=rf"""
    WITH {_SQL_SCALED},
    {_SQL_ANN_BUCKETS},
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             CAST(CAST(list_aggregate(
               list_transform(list_zip(x.sv, y.sv), p -> p[1] * p[2]),
               'sum') AS BIGINT) AS DOUBLE) / (x.nrm * y.nrm) AS cosine
      FROM n x
      JOIN ok USING (bucket)
      JOIN n y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= {_NEAR_DUP_COSINE}
    """,
)
def llm_ann_bucketed_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: embedding-cosine near-duplicate JOIN, the complete scale
    path (see ``ann_cosine_pairs``) at ``_N_PLANES`` planes with the
    ``_ANN_BUCKET_CAP`` mega-bucket guard."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_cosine_pairs(
        emb,
        n_planes=_planes_at_oracle_floor(
            emb.count(), "llm_ann_bucketed_cosine_pairs"
        ),
    )


def ann_cosine_pairs(
    emb: DataFrame,
    bucket_cap: int = _ANN_BUCKET_CAP,
    n_planes: int | None = None,
) -> DataFrame:
    """Hyperplane-LSH bucketed cosine near-duplicate pairs over
    (vec_id, embedding) rows — the reusable operator behind
    ``llm_ann_bucketed_cosine_pairs``.

    The complete scale path: hyperplane-LSH bucket assignment, exact
    fixed-point cosine only WITHIN buckets, similarity threshold filter.
    The equi-join on the bucket id carries the shuffle, so candidate
    generation is bucket-quadratic, never corpus-quadratic; recall is
    tuned by plane count (more planes → smaller buckets → faster, lower
    recall) and ``bucket_cap`` drops degenerate mega-buckets whole.

    Pair-loop hygiene: the fixed-point scaled vector and its norm are
    computed ONCE per vector before the join — the bucket bits, the
    self-norm, and every pair dot all read the same shared ``sv``
    column (re-scaling per plane would pay the 64-cast conversion
    ``_N_PLANES``+1 times per row). Inside the pair loop only a single
    int64 zip-dot runs. The bucket-size side input is ≤ 2^planes rows,
    so its join is an explicit broadcast.
    """
    if n_planes is None:
        # metadata-cheap count (parquet row-group stats); the plane
        # count self-sizes with the corpus instead of being hand-set
        n_planes = adaptive_planes(emb.count())
    # Materialize the encode ONCE: ann_cosine_pairs_from_rows reads the
    # encoded relation three times (bucket sizes + both join sides), and
    # without the checkpoint each read re-ran the 64 fixed-point casts,
    # the plane dots and the self-norm per row. One pass + three cheap
    # re-reads replaces three encode passes (the store variants already
    # get this for free by reading the encode from disk).
    n = pin(_emb_encode(fan_out_if_narrow(emb), n_planes))
    return ann_cosine_pairs_from_rows(n, bucket_cap)


def ann_cosine_pairs_from_rows(
    n: DataFrame, bucket_cap: int = _ANN_BUCKET_CAP
) -> DataFrame:
    """The pair stage of ``ann_cosine_pairs`` over an already-encoded
    (vec_id, bucket, sv, nrm) relation — split out so the S23 bucket
    store's read paths (which load the encode from disk) share the
    exact bucket-cap + verify expressions with the query-time form."""
    ok = _capped_buckets(n, ["bucket"], bucket_cap, min_rows=2)
    x = n.join(F.broadcast(ok), "bucket").alias("x")
    y = n.alias("y")
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            _pair_cosine("x", "y").alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEAR_DUP_COSINE)
    )


@register(
    "llm_embedding_neardup_clusters",
    oracle=rf"""
    WITH RECURSIVE {_SQL_SCALED},
    {_SQL_ANN_BUCKETS},
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM n x
      JOIN ok USING (bucket)
      JOIN n y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE CAST(CAST(list_aggregate(
              list_transform(list_zip(x.sv, y.sv), p -> p[1] * p[2]),
              'sum') AS BIGINT) AS DOUBLE) / (x.nrm * y.nrm)
            >= {_NEAR_DUP_COSINE}
    ),
    edges AS (
      SELECT vec_a AS u, vec_b AS v FROM pairs
      UNION ALL
      SELECT vec_b, vec_a FROM pairs
    ),
    reach(a, r) AS (
      SELECT u, v FROM edges
      UNION
      SELECT rr.a, e.v FROM reach rr JOIN edges e ON e.u = rr.r
    )
    SELECT a AS vec_id,
           LEAST(a, MIN(r)) AS cluster_id,
           a = LEAST(a, MIN(r)) AS is_canonical
    FROM reach
    GROUP BY a
    """,
)
def llm_embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+J7 in embedding space: hyperplane-LSH bucketed cosine pairs
    (``ann_cosine_pairs``) closed into duplicate CLUSTERS by
    ``connected_components`` — the embedding-side twin of
    ``llm_neardup_clusters`` (text side). Semantic near-duplicates
    chain (A≈B≈C with A,C in different buckets still cluster via B), so
    the transitive closure, not the pair list, is what an
    embedding-dedup pipeline keeps. Oracle: recursive-CTE closure of
    the identical candidate graph.

    Round 11: the solved labels persist in the embedding CLUSTER
    store (``emb_neardup_components_stored``, the cluster_store
    pattern keyed by the embeddings fingerprint + LSH geometry) — the
    hyperplane bucketing, the exact-cosine verify and the iterative
    CC solve run once per corpus, and every later invocation is one
    parquet scan. Physical-layout change only: oracle unchanged.
    """
    comp = emb_neardup_components_stored(spark, sf_dir)
    return comp.select(
        F.col("doc").alias("vec_id"),
        "cluster_id",
        (F.col("doc") == F.col("cluster_id")).alias("is_canonical"),
    )


# The DuckDB twin of the label-cell (IVF/PQ) assignment, in two blocks.

#: ``s(vec_id, label, sv)`` scaled vectors, ``comp`` per-cell sums and
#: ``cq(cell, d, c)``: each label cell's integer centroid.
_SQL_CELL_CENTROIDS = rf"""s AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> {_SQL_ISCALE.format(v="x")}) AS sv
      FROM embeddings
    ),
    comp AS (
      SELECT label AS cell, d, SUM(sv[d]) AS sm, COUNT(*) AS cnt
      FROM s, range(1, 65) r(d)
      GROUP BY label, d
    ),
    cq AS (
      SELECT cell, d,
             CAST(FLOOR(CAST(sm AS DOUBLE) / cnt) AS BIGINT) AS c
      FROM comp
    )"""
#: ``dist`` (squared distance to each centroid) and ``best(vec_id,
#: cell)``: the nearest cell, ties to the lower cell.
_SQL_NEAREST_CELL = """dist AS (
      SELECT s.vec_id, cq.cell,
             SUM((s.sv[cq.d] - cq.c) * (s.sv[cq.d] - cq.c)) AS d2
      FROM s, cq
      GROUP BY s.vec_id, cq.cell
    ),
    best AS (
      SELECT vec_id, cell
      FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY d2, cell
               ) AS rn
        FROM dist
      )
      WHERE rn = 1
    )"""

_IVF_ORACLE = f"""
    WITH {_SQL_CELL_CENTROIDS},
    {_SQL_NEAREST_CELL},
    q AS (
      SELECT s.vec_id, s.sv AS qv, best.cell,
             CAST(list_aggregate(
               list_transform(list_zip(s.sv, s.sv), p -> p[1] * p[2]),
               'sum') AS BIGINT) AS nq
      FROM s JOIN best USING (vec_id)
      WHERE s.vec_id = {_QUERY_VEC_ID}
    )
    SELECT vec_id, cell, cosine
    FROM (
      SELECT s.vec_id, s.vec_id AS tie, q.cell,
             CAST(CAST(list_aggregate(
               list_transform(list_zip(s.sv, q.qv), p -> p[1] * p[2]),
               'sum') AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(list_aggregate(
                  list_transform(list_zip(s.sv, s.sv), p -> p[1] * p[2]),
                  'sum') AS BIGINT) AS DOUBLE))
                * sqrt(CAST(nq AS DOUBLE))) AS cosine
      FROM s
      JOIN best ON s.vec_id = best.vec_id
      JOIN q ON best.cell = q.cell
      WHERE s.vec_id != {_QUERY_VEC_ID}
    )
    ORDER BY cosine DESC, tie
    LIMIT 10
    """


@register("llm_ivf_topk", oracle=_IVF_ORACLE)
def llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21/J6: IVF-style ANN — vectors are inverted-indexed by nearest
    label-centroid; the query probes only its own cell and brute-forces
    cosine there. At 100 TB the cell assignment is a write-time
    partition key, so a query touches 1/k of the corpus.

    Cross-engine exactness (what moved this off the rows-only tail):
    the cell table is QUANTIZED to fixed-point — centroid components
    are ``floor(Σ sv / n)`` in 1e-6 units, so cell distances are exact
    int64 sums of squared integer deltas, the argmin is an integer
    (d2, cell) struct min, and the in-cell rerank is the same exact
    int-dot → double cosine the brute-force family uses. No double
    fold anywhere, so DuckDB replays every step bit-for-bit.

    Assignment shape: the cell table is SF-constant (one row per label),
    so it is packed into a single array row and broadcast; each vector
    picks its cell with a per-row ``array_min`` argmin over that array —
    a pure map stage. (A crossJoin + row_number window would fan every
    vector out k ways and then shuffle on vec_id to pick the argmin —
    k× the rows and an extra exchange for identical output.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    sv = _scaled(emb)
    # 1 packed row, but its build is a full corpus posexplode+agg and
    # it is embedded in two DIFFERENT broadcast subtrees (the query row
    # and the corpus assignment) — materialize once.
    cells = pin(_packed_cells(ivf_quantized_cells(emb)))
    q_cell = (
        sv.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .crossJoin(F.broadcast(cells))
        .select(
            F.col("sv").alias("qv"),
            _sv_dot("sv", "sv").alias("nq"),
            _nearest_cell(F.col("sv")).alias("cell"),
        )
    )
    assigned = (
        sv.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(cells))
        .select("vec_id", "sv", _nearest_cell(F.col("sv")).alias("cell"))
    )
    in_cell = assigned.join(F.broadcast(q_cell), "cell")
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nq").cast("double"))
    )
    return (
        in_cell.select(
            "vec_id",
            "cell",
            _sv_dot("sv", "qv").alias("dot"),
            _sv_dot("sv", "sv").alias("na"),
            "nq",
        )
        .select("vec_id", "cell", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


def ivf_quantized_cells(emb: DataFrame) -> DataFrame:
    """Per-label QUANTIZED centroids as (cell, int64 centroid array in
    1e-6 fixed-point units): ``floor(Σ scaled / n)`` per dimension.
    Exact-integer inputs + one correctly-rounded double division + one
    floor = engine-independent integers, which is what lets the whole
    IVF path carry a SQL oracle (a double-valued centroid would push a
    double FOLD into the distance, whose summation-order guarantee
    DuckDB's list aggregate does not document)."""
    sums = emb.select(
        F.col("label").alias("cell"),
        F.posexplode(F.transform("embedding", lambda x: _iscale(x))).alias(
            "pos", "v"
        ),
    ).groupBy("cell", "pos").agg(
        F.floor(
            F.sum("v").cast("double") / F.count(F.lit(1))
        ).cast("long").alias("c")
    )
    return (
        sums.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )


def _sq_dist(vec: Column, centroid: Column) -> Column:
    """Exact int64 squared L2 distance between two fixed-point int64
    arrays (components ≤ ~2e6, 64 dims → ≤ ~2.6e14 ≪ 2^63)."""
    return _long_sum(F.zip_with(vec, centroid, lambda x, c: (x - c) * (x - c)))


def _packed_cells(cells: DataFrame) -> DataFrame:
    """The (cell, centroid) table packed into ONE row, ``cells`` =
    [(cell, centroid), ...]: the cell table is SF-constant, so it is
    broadcast and each vector picks its cell per row."""
    return cells.agg(
        F.collect_list(F.struct("cell", "centroid")).alias("cells")
    )


def _cell_dists(vec: Column) -> Column:
    """Per entry of the packed ``cells`` column, the (d2, cell) struct
    of ``vec``'s exact distance to that centroid."""
    return F.transform(
        "cells",
        lambda c: F.struct(
            _sq_dist(vec, c["centroid"]).alias("d2"),
            c["cell"].alias("cell"),
        ),
    )


def _nearest_cell(vec: Column) -> Column:
    """``vec``'s IVF cell: the lexicographic (d2, cell) struct min ==
    ORDER BY d2, cell LIMIT 1, an integer argmin on both engines."""
    return F.array_min(_cell_dists(vec))["cell"]


def _probe_cells(vec: Column) -> Column:
    """The ``_IVFPQ_NPROBE`` cells nearest ``vec``, nearest first."""
    return F.transform(
        F.slice(F.array_sort(_cell_dists(vec)), 1, _IVFPQ_NPROBE),
        lambda s: s["cell"],
    )


#: Product-quantization geometry: 64 dims → _PQ_M subspaces of 8.
_PQ_M = 8
_PQ_SUB = 8

_PQ_ORACLE = f"""
    WITH {_SQL_CELL_CENTROIDS},
    dist AS (
      SELECT s.vec_id, cq.cell, (cq.d - 1) // {_PQ_SUB} AS m,
             SUM((s.sv[cq.d] - cq.c) * (s.sv[cq.d] - cq.c)) AS d2
      FROM s, cq
      GROUP BY s.vec_id, cq.cell, (cq.d - 1) // {_PQ_SUB}
    ),
    code AS (
      SELECT vec_id, m, cell FROM (
        SELECT vec_id, m, cell,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id, m ORDER BY d2, cell
               ) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    qd AS (
      SELECT cell, m, d2 FROM dist WHERE vec_id = {_QUERY_VEC_ID}
    )
    SELECT vec_id,
           CAST(approx_d2 AS BIGINT) AS approx_d2,
           pq_code
    FROM (
      SELECT c.vec_id,
             SUM(qd.d2) AS approx_d2,
             string_agg(CAST(c.cell AS VARCHAR), '-' ORDER BY c.m)
               AS pq_code
      FROM code c JOIN qd ON c.cell = qd.cell AND c.m = qd.m
      WHERE c.vec_id != {_QUERY_VEC_ID}
      GROUP BY c.vec_id
    )
    ORDER BY approx_d2, vec_id
    LIMIT 10
    """


def _pq_sub(col: Column, m: int) -> Column:
    """Subspace m of a fixed-point vector (1-based slice)."""
    return F.slice(col, m * _PQ_SUB + 1, _PQ_SUB)


def _pq_code_m(vec: Column, m: int) -> Column:
    """Sub-code for subspace m: integer (d2, cell) struct min over the
    broadcast ``cells`` column == ORDER BY d2, cell LIMIT 1."""
    return F.array_min(
        F.transform(
            "cells",
            lambda c: F.struct(
                _sq_dist(
                    _pq_sub(vec, m), _pq_sub(c["centroid"], m)
                ).alias("d2"),
                c["cell"].alias("cell"),
            ),
        )
    )["cell"]


def _pq_qdist(code_col: str, m: int) -> Column:
    """Query-to-sub-centroid exact distance for a candidate's code —
    one ADC table lookup along the ``cells``/``qv`` columns."""
    centroid = F.filter(
        "cells", lambda c: c["cell"] == F.col(code_col)
    )[0]["centroid"]
    return _sq_dist(_pq_sub(F.col("qv"), m), _pq_sub(centroid, m))


@register("llm_pq_topk", oracle=_PQ_ORACLE)
def llm_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21/J6 EXT: PRODUCT-QUANTIZATION ANN (Jégou et al. 2011) — each
    vector is encoded as {_PQ_M} sub-codes (nearest sub-centroid per
    {_PQ_SUB}-dim subspace, ~{_PQ_M} bytes/vector instead of 256), and
    the query ranks candidates by ASYMMETRIC distance: the exact
    query-to-sub-centroid distances are computed once per (cell,
    subspace) and each candidate's approximate distance is just the SUM
    of {_PQ_M} table lookups along its code. This is the memory-bound
    regime's standard ANN: at 100 TB the codes table is ~400× smaller
    than the vectors and the scan is {_PQ_M} adds per row.

    Codebooks are the IVF cell table's QUANTIZED per-label centroids
    restricted to each subspace (deterministic integers — see
    ``ivf_quantized_cells``), so encoding argmins, the query's distance
    table, and every ADC sum are exact int64 — bitwise cross-engine.

    Scale shape: the codebook is one broadcast row; encoding and ADC
    are pure map stages; the cut is a TakeOrderedAndProject. The
    documented recall cost: ADC ranks by quantized sub-distances, not
    true distance (tests pin top-1 recall vs brute force on this
    corpus).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sv = _scaled(emb)
    # 1 packed row, but its build is a full corpus posexplode+agg and
    # it is embedded in two DIFFERENT broadcast subtrees (the query row
    # and the corpus assignment) — materialize once.
    cells = pin(_packed_cells(ivf_quantized_cells(emb)))

    q = (
        sv.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .crossJoin(F.broadcast(cells))
        .select(F.col("sv").alias("qv"), "cells")
    )
    encoded = (
        sv.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "sv",
            "qv",
            "cells",
            *[
                _pq_code_m(F.col("sv"), m).alias(f"c{m}")
                for m in range(_PQ_M)
            ],
        )
    )

    approx = None
    for m in range(_PQ_M):
        t = _pq_qdist(f"c{m}", m)
        approx = t if approx is None else approx + t
    return (
        encoded.select(
            "vec_id",
            approx.cast("long").alias("approx_d2"),
            F.concat_ws(
                "-", *[F.col(f"c{m}").cast("string") for m in range(_PQ_M)]
            ).alias("pq_code"),
        )
        .orderBy("approx_d2", "vec_id")
        .limit(10)
    )


@register(
    "llm_ann_hyperplane_buckets",
    oracle=rf"""
    SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
    FROM (
      SELECT vec_id,
             {_sql_bucket_expr()} AS bucket
      FROM (
        SELECT vec_id,
               list_transform(embedding,
                 x -> {_SQL_ISCALE.format(v="x")}) AS sv
        FROM embeddings
      )
    )
    GROUP BY bucket
    """,
)
def llm_ann_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21/J6: random-hyperplane LSH bucket assignment — the scale path
    for ANN: vectors land in 2^4 sign buckets; at query time only the
    query's bucket (plus neighbors) is scanned instead of the full
    corpus.

    Determinism: plane weights are ±1 from md5 parity (no RNG), dots are
    integer fixed-point (1e-6 from DECIMAL(18,6) — exact, order-free
    long sums, the same ``_iscale`` quantization the pair-dot path
    uses so one scaled vector serves the whole ANN family), so bucket
    ids are engine-independent.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n_planes = _planes_at_oracle_floor(
        emb.count(), "llm_ann_hyperplane_buckets"
    )
    return (
        _scaled(emb)
        .select("vec_id", _bucket_expr(n_planes=n_planes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


# ---------------------------------------------------------------------------
# Corpus preparation EXT — chunking, PII redaction, vocabulary coverage
# ---------------------------------------------------------------------------

#: Chunk window (tokens) and stride for document chunking. Stride <
#: window gives the overlapping-context layout retrieval pipelines use
#: (each token appears in <= ceil(window/stride) chunks).
_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


@register(
    "llm_chunk_documents",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS t, len({_SQL_TOKENS}) AS n_tok
      FROM documents
    ),
    s AS (
      SELECT doc_id, t, n_tok,
             unnest(range(0, n_tok, {_CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(LEAST({_CHUNK_TOKENS}, n_tok - start) AS BIGINT)
             AS chunk_len,
           md5(array_to_string(
             t[start + 1 : start + {_CHUNK_TOKENS}], ' ')) AS chunk_hash
    FROM s
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20/F19: document CHUNKING — slice each document's token stream
    into overlapping {_CHUNK_TOKENS}-token windows every {_CHUNK_STRIDE}
    tokens (the retrieval / long-context layout: stride < window keeps
    boundary context in two chunks). Emits one row per chunk with its
    token offset, clamped length, and an md5 over the chunk text so the
    oracle verifies CONTENT, not just geometry.

    Scale shape: chunking is embarrassingly parallel — one projection
    materializes the token array, ``sequence``/``explode`` fans each doc
    to its chunk starts, and ``slice`` reads the shared array (no
    shuffle anywhere; output partitioning inherits the scan). The
    explode multiplies rows by ~n_tok/stride, so downstream consumers
    see bounded fan-out, never a corpus-squared blowup. Start sets are
    identical across engines: Spark ``sequence(0, n_tok-1, stride)``
    (inclusive end) == DuckDB ``range(0, n_tok, stride)`` (exclusive
    end) for the always-true n_tok >= 1 (splitting "" yields [""]), and
    both engines clamp the trailing slice.
    """
    docs = load_table(spark, sf_dir, "documents")
    # token array in its OWN projection (see ``tokenized``)
    toked = fan_out_if_narrow(
        docs.select(
            "doc_id", _tokens().alias("t"), F.size(_tokens()).alias("n_tok")
        )
    )
    starts = toked.select(
        "doc_id",
        "t",
        "n_tok",
        F.explode(
            F.sequence(
                F.lit(0), F.col("n_tok") - 1, F.lit(_CHUNK_STRIDE)
            )
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"start div {_CHUNK_STRIDE}").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.least(
            F.lit(_CHUNK_TOKENS), F.col("n_tok") - F.col("start")
        ).cast("long").alias("chunk_len"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("t"), F.col("start") + 1, _CHUNK_TOKENS)
            )
        ).alias("chunk_hash"),
    )


#: PII patterns (shared Java-regex / RE2 subset: char classes,
#: bounded quantifiers — no lookaround, no backrefs).
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"


@register(
    "llm_pii_redaction",
    oracle=rf"""
    WITH seeded AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN text || ' contact user' ||
                 CAST(doc_id AS VARCHAR) || '@example.com now'
               WHEN 1 THEN text || ' call +1-555-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
               ELSE text
             END AS txt
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(txt, '{_PII_PHONE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(
                 regexp_replace(txt, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_hash,
           CAST(len(regexp_replace(
                 regexp_replace(txt, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
    FROM seeded
    """,
)
def llm_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20: PII REDACTION — scrub emails and phone numbers from the
    corpus before training. The synthetic test corpus is digit-free
    word salad, so the query first INJECTS deterministic synthetic PII
    (an email into every doc_id%3==0 doc, a phone into every %3==1 doc,
    nothing into the rest — the negative control) and then redacts; the
    oracle runs the identical seeding, so counts and redacted-text
    hashes verify the redaction kernel itself, non-vacuously.

    Scale shape: pure per-row map work — no shuffle, no explode; the
    regex runs JVM-side inside whole-stage codegen. Patterns stay in
    the Java-regex ∩ RE2 subset (char classes, bounded quantifiers) so
    both engines match identical spans; replacement is global ('g' in
    DuckDB, Spark's default).
    """
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("txt"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("txt"), _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id",
        F.regexp_count(F.col("txt"), F.lit(_PII_EMAIL))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count(F.col("txt"), F.lit(_PII_PHONE))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


#: Vocabulary report size.
_VOCAB_TOP = 100


@register(
    "llm_vocab_coverage",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    top AS (
      SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT {_VOCAB_TOP}
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM tok)
    SELECT term,
           CAST(c AS BIGINT) AS term_count,
           CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS BIGINT)
             AS term_rank,
           CAST(SUM(c) OVER (ORDER BY c DESC, term) AS BIGINT)
             AS cum_count,
           CAST(SUM(c) OVER (ORDER BY c DESC, term) AS DOUBLE) / n_total
             AS cum_frac
    FROM top, tot
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20/W3: VOCABULARY COVERAGE — the top-{_VOCAB_TOP} tokens by
    corpus frequency with each prefix's cumulative share of all token
    occurrences (the "how much of the corpus does a K-word vocab
    cover" curve that sizes tokenizer vocabularies and stopword lists).

    Scale shape: the corpus-wide work is ONE explode → hash aggregate
    on term (map-side partial combine collapses repeats early) and a
    count agg for the denominator; the top-{_VOCAB_TOP} cut is a
    TakeOrderedAndProject — the single-partition window that computes
    rank and running share runs AFTER the limit, over exactly
    {_VOCAB_TOP} rows, so no full-vocab data ever funnels through one
    partition. cum_frac divides exact integers (unique (c desc, term)
    order keys make RANGE == ROWS framing) — bitwise cross-engine.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toked = fan_out_if_narrow(docs.select(_tokens().alias("t")))
    tok = toked.select(F.explode("t").alias("term"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    top = cnt.orderBy(F.desc("c"), "term").limit(_VOCAB_TOP)
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    w = Window.orderBy(F.desc("c"), "term")
    return (
        top.join(F.broadcast(total))
        .select(
            "term",
            F.col("c").cast("long").alias("term_count"),
            F.row_number().over(w).cast("long").alias("term_rank"),
            F.sum("c").over(w).cast("long").alias("cum_count"),
            (
                F.sum("c").over(w).cast("double") / F.col("n_total")
            ).alias("cum_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 pipeline operators: span-level dedup, incremental dedup,
# rule-chain quality filtering, deterministic training order
# ---------------------------------------------------------------------------

#: Duplicate-span shingle width (tokens). 8 is wide enough that a match
#: is a copied passage, not a common phrase, on the test corpus.
_SPAN_N = 8


@register(
    "llm_duplicate_spans",
    oracle=rf"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, md5(g) AS h
      FROM (
        SELECT doc_id, unnest({_sql_word_ngrams("t", _SPAN_N)}) AS g
        FROM toked
      )
    ),
    dup AS (
      SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT g.doc_id, COUNT(*) AS n_dup
      FROM grams g JOIN dup USING (h)
      GROUP BY g.doc_id
    )
    SELECT toked.doc_id,
           CAST(GREATEST(len(t) - {_SPAN_N - 1}, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_spans,
           CASE WHEN len(t) - {_SPAN_N - 1} > 0
                THEN CAST(COALESCE(n_dup, 0) AS DOUBLE)
                     / (len(t) - {_SPAN_N - 1})
                ELSE 0.0 END AS dup_frac
    FROM toked LEFT JOIN per_doc ON toked.doc_id = per_doc.doc_id
    """,
)
def llm_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (substring) duplication signal — for each document,
    the fraction of its {_SPAN_N}-token shingle positions whose exact
    text also occurs in at least one OTHER document. This is the
    document-level score behind suffix-style span dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    exact-dedup misses partial copies; this finds them without any
    pairwise comparison.

    Scale shape: one explode to (doc_id, gram-md5); duplicated grams
    come from a hash aggregate on the 128-bit gram key (uniform — no
    skew possible beyond true duplication, and a gram repeated across
    the whole corpus still collapses map-side); rejoining the dup-gram
    set is a shuffle hash join on the same uniform key; the per-doc
    rollup is one more hash agg. No similarity join, no candidate
    blowup — cost is linear in corpus tokens at every step.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    grams = toked.select(
        "doc_id",
        F.explode(_word_ngrams(F.col("t"), _SPAN_N)).alias("g"),
    ).select("doc_id", F.md5("g").alias("h"))
    # "Gram in >= 2 distinct docs" ⟺ min(doc_id) != max(doc_id) within
    # the gram's partition: two unordered window aggregates over ONE
    # h exchange compute the gram stream once — the former dup-gram
    # agg + join-back re-ran the tokenize+explode+md5 pipeline per
    # consumer and shuffled the stream a second time for the join.
    wh = Window.partitionBy("h")
    per_doc = (
        grams.withColumn("mn", F.min("doc_id").over(wh))
        .withColumn("mx", F.max("doc_id").over(wh))
        .filter(F.col("mn") != F.col("mx"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    n_spans = F.greatest(F.size("t") - (_SPAN_N - 1), F.lit(0))
    return (
        toked.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_spans.cast("long").alias("n_spans"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_spans"),
            F.when(
                n_spans > 0,
                F.coalesce(F.col("n_dup"), F.lit(0)).cast("double") / n_spans,
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


#: Incremental-dedup corpus split: sources src0..src9 are the standing
#: corpus, src10+ are the incoming batch.
_INCR_EXISTING_MAX = 10


@register(
    "llm_incremental_dedup",
    oracle=rf"""
    WITH keyed AS (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS INTEGER) AS src_num,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               AS content_key
      FROM documents
    )
    SELECT doc_id, source, content_key
    FROM keyed incoming
    WHERE src_num >= {_INCR_EXISTING_MAX}
      AND NOT EXISTS (
        SELECT 1 FROM keyed corpus
        WHERE corpus.src_num < {_INCR_EXISTING_MAX}
          AND corpus.content_key = incoming.content_key
      )
    """,
)
def llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the shape every continuously-ingesting
    training pipeline runs: a new batch of documents is admitted only
    if its canonical content hash is absent from the standing corpus
    (here: sources src0-src9 stand for the corpus, src10+ for the
    batch). Distinct from ``llm_exact_dedup_documents``, which
    deduplicates a closed corpus against itself.

    Scale shape: LEFT ANTI hash join on a uniform 128-bit key. Only
    hashes shuffle — the standing corpus is carried as (key) alone, so
    at 100 TB the index side is ~2% of corpus bytes; when the index
    fits in executor memory Spark broadcasts it (AQE decides), else
    both sides hash-partition on content_key with zero skew. The
    standing-corpus projection prunes to ONE column at the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    src_num = F.substring("source", 4, 10).cast("int")
    keyed = docs.select(
        "doc_id", "source", src_num.alias("src_num"), key.alias("content_key")
    )
    corpus_keys = keyed.filter(
        F.col("src_num") < _INCR_EXISTING_MAX
    ).select("content_key")
    incoming = keyed.filter(F.col("src_num") >= _INCR_EXISTING_MAX)
    return incoming.join(corpus_keys, "content_key", "left_anti").select(
        "doc_id", "source", "content_key"
    )


#: Gopher-style rule thresholds (Rae et al. 2021 table A1 spirit,
#: rescaled to the short synthetic docs).
_G_MIN_TOK = 20
_G_MAX_TOK = 1000
_G_MIN_MWL = 2.0
_G_MAX_MWL = 10.0
_G_MAX_TOP_FRAC = 0.2

#: ``tc(doc_id, term, c, l)``: per-document term counts and lengths.
_SQL_TERM_COUNTS = rf"""tc AS (
      SELECT doc_id, term, COUNT(*) AS c, LEN(term) AS l
      FROM (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
      )
      GROUP BY doc_id, term
    )"""
#: The Gopher statistics per document, over ``tc``.
_SQL_GOPHER_STATS = f"""SELECT doc_id,
             SUM(c) AS n_tok,
             SUM(l * c) AS n_chars_tok,
             MAX(c) AS top_c,
             MAX(CASE WHEN term IN ({_SQL_STOPWORDS}) THEN 1 ELSE 0 END)
               AS has_stop
      FROM tc
      GROUP BY doc_id"""
#: ``qual(doc_id)``: the documents that pass every Gopher rule.
_SQL_GOPHER_KEEP = f"""qual AS (
      SELECT doc_id
      FROM (
        {_SQL_GOPHER_STATS}
      )
      WHERE n_tok BETWEEN {_G_MIN_TOK} AND {_G_MAX_TOK}
        AND CAST(n_chars_tok AS DOUBLE) / n_tok
            BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}
        AND CAST(top_c AS DOUBLE) / n_tok <= {_G_MAX_TOP_FRAC}
        AND has_stop = 1
    )"""


@register(
    "llm_gopher_quality_filter",
    oracle=rf"""
    WITH {_SQL_TERM_COUNTS},
    agg AS (
      {_SQL_GOPHER_STATS}
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_chars_tok AS DOUBLE) / n_tok AS mean_word_len,
           CAST(top_c AS DOUBLE) / n_tok AS top_token_frac,
           CAST(has_stop AS BOOLEAN) AS has_stopword,
           CAST(
             n_tok BETWEEN {_G_MIN_TOK} AND {_G_MAX_TOK}
             AND CAST(n_chars_tok AS DOUBLE) / n_tok
                 BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}
             AND CAST(top_c AS DOUBLE) / n_tok <= {_G_MAX_TOP_FRAC}
             AND has_stop = 1
           AS BOOLEAN) AS keep
    FROM agg
    """,
)
def llm_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style RULE-CHAIN quality filter (Rae et al. 2021): token
    count bounds, mean-word-length bounds, a repetition bound (most
    frequent token's share), and a must-contain-a-stopword rule, with
    every rule input emitted alongside the final keep/drop verdict so a
    pipeline can audit WHY a document was dropped.

    Scale shape: per-(doc, term) counts from one explode + hash agg
    (map-side combine), rolled up per doc in a second hash agg — both
    keyed uniformly; every rule is then a scalar projection. Division
    parity: each ratio divides two exact integers as doubles once, so
    Spark and DuckDB agree bitwise.
    """
    return gopher_quality_filter(load_table(spark, sf_dir, "documents"))


def gopher_quality_filter(docs: DataFrame) -> DataFrame:
    """The reusable rule-chain filter behind
    ``llm_gopher_quality_filter`` over any (doc_id, text) relation."""
    toked = tokenized(docs)
    return gopher_quality_filter_from_tokens(toked)


def gopher_quality_filter_from_tokens(toked: DataFrame) -> DataFrame:
    """The rule chain over a pre-tokenized ``(doc_id, t)`` relation
    (see ``decontaminate_overlap_from_tokens`` for why the split
    exists). Note ``n_tok`` = Σ per-term counts ≡ ``size(t)``."""
    tc = (
        toked.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.sum(F.length("term") * F.col("c")).alias("n_chars_tok"),
        F.max("c").alias("top_c"),
        F.max(
            F.when(F.col("term").isin(*_STOPWORDS), 1).otherwise(0)
        ).alias("has_stop"),
    )
    mwl = F.col("n_chars_tok").cast("double") / F.col("n_tok")
    top_frac = F.col("top_c").cast("double") / F.col("n_tok")
    return agg.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        mwl.alias("mean_word_len"),
        top_frac.alias("top_token_frac"),
        (F.col("has_stop") == 1).alias("has_stopword"),
        (
            F.col("n_tok").between(_G_MIN_TOK, _G_MAX_TOK)
            & mwl.between(_G_MIN_MWL, _G_MAX_MWL)
            & (top_frac <= _G_MAX_TOP_FRAC)
            & (F.col("has_stop") == 1)
        ).alias("keep"),
    )


#: Training-order shards; a real run uses O(cluster width) shards.
_ORDER_SHARDS = 8
_ORDER_SEED = "seed42:"


@register(
    "llm_training_order",
    oracle=rf"""
    WITH keyed AS (
      SELECT doc_id,
             md5('{_ORDER_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    )
    SELECT doc_id,
           shuffle_key,
           CAST(ascii(substr(shuffle_key, 1, 1)) % {_ORDER_SHARDS} AS INTEGER)
             AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY ascii(substr(shuffle_key, 1, 1)) % {_ORDER_SHARDS}
             ORDER BY shuffle_key, doc_id
           ) AS BIGINT) AS pos_in_shard
    FROM keyed
    """,
)
def llm_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAINING-ORDER shuffle — assign every document a
    seeded pseudo-random position: shuffle_key = md5(seed || doc_id),
    shard = first key byte mod {_ORDER_SHARDS}, position = rank of the
    key within the shard. Reproducible end-to-end (same seed ⇒ same
    epoch order on any cluster size), which is what makes training runs
    comparable; changing the seed string reshuffles globally.

    Scale shape: the key is map-side; the shard window is ONE shuffle
    partitioned by shard — each shard sorts independently, so with
    O(cluster) shards no single partition ever holds more than
    corpus/shards rows (a real deployment sizes {_ORDER_SHARDS} to the
    writer parallelism; the global sort a naive ORDER BY md5 would run
    is exactly what this avoids).
    """
    return training_order(load_table(spark, sf_dir, "documents"))


def training_order(
    docs: DataFrame, n_shards: int = _ORDER_SHARDS, seed: str = _ORDER_SEED
) -> DataFrame:
    """The reusable seeded-shuffle operator behind
    ``llm_training_order`` over any relation with a ``doc_id``."""
    from pyspark.sql.window import Window

    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(seed), F.col("doc_id").cast("string"))
        ).alias("shuffle_key"),
    )
    shard = (
        F.ascii(F.substring("shuffle_key", 1, 1)) % n_shards
    ).cast("int")
    w = Window.partitionBy(shard).orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shuffle_key",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


#: Independent hyperplane tables for the multi-table ANN variant —
#: recall 1-(1-p)^R per pair vs the single table's p.
_ANN_TABLES = 4


def _sql_table_bucket(prefix: str) -> str:
    return _sql_bucket_expr(prefix=prefix)


@register(
    "llm_ann_multitable_pairs",
    oracle=rf"""
    WITH {_SQL_SCALED},
    n AS (
      SELECT vec_id, sv,
             sqrt(CAST(CAST(list_aggregate(
               list_transform(list_zip(sv, sv), x -> x[1] * x[2]),
               'sum') AS BIGINT) AS DOUBLE)) AS nrm
      FROM s
    ),
    b AS (
      {" UNION ALL ".join(
        f"SELECT vec_id, sv, nrm, {t} AS tbl, "
        f"{_sql_table_bucket(f't{t}:')} AS bucket FROM n"
        for t in range(_ANN_TABLES)
      )}
    ),
    ok AS (
      SELECT tbl, bucket FROM b GROUP BY tbl, bucket
      HAVING COUNT(*) BETWEEN 2 AND {_ANN_BUCKET_CAP}
    ),
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             CAST(CAST(list_aggregate(
               list_transform(list_zip(x.sv, y.sv), p -> p[1] * p[2]),
               'sum') AS BIGINT) AS DOUBLE) / (x.nrm * y.nrm) AS cosine
      FROM b x
      JOIN ok ON x.tbl = ok.tbl AND x.bucket = ok.bucket
      JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, MIN(cosine) AS cosine
    FROM pairs WHERE cosine >= {_NEAR_DUP_COSINE}
    GROUP BY vec_a, vec_b
    """,
)
def llm_ann_multitable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 at production recall: {_ANN_TABLES} INDEPENDENT hyperplane
    tables (seeded 't<t>:'), a pair surfaces if it collides in ANY
    table — recall 1-(1-p)^{_ANN_TABLES} per pair vs the single table's
    p (`llm_ann_bucketed_cosine_pairs`), the standard LSH
    recall-vs-cost knob. tests/test_ann_recall.py checks both variants
    against their analytic expectations.

    Scale shape: all {_ANN_TABLES}×{_N_PLANES} plane dots read the ONE
    shared fixed-point vector computed per row (map-side); the explode
    to (table, bucket) multiplies the shuffled relation by
    {_ANN_TABLES} — the documented cost of the recall — with the join
    still bucket-local per table ((tbl, bucket) carries the shuffle,
    `_ANN_BUCKET_CAP` guards degenerate buckets per table). Cross-table
    duplicate pairs collapse in a final hash agg on the uniform pair
    key (MIN(cosine) is a no-op merge: every table computes the same
    exact fixed-point cosine).
    """
    n = _emb_encode(fan_out_if_narrow(load_table(spark, sf_dir, "embeddings")))
    b = n.select(
        "vec_id",
        "sv",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        _bucket_expr("sv", f"t{t}:").alias("bucket"),
                    )
                    for t in range(_ANN_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "sv", "nrm", "tb.tbl", "tb.bucket")
    # Materialize the encode+bucket pass ONCE: `b` feeds three subtrees
    # (bucket sizes, both self-join sides) and each recomputed the 64
    # fixed-point casts plus _ANN_TABLES×_N_PLANES plane dots per row.
    # One pass + three re-reads replaces three encode passes; the 3×
    # exploded relation is the same one the join shuffles anyway.
    b = pin(b)
    ok = _capped_buckets(b, ["tbl", "bucket"], _ANN_BUCKET_CAP, min_rows=2)
    x = b.join(F.broadcast(ok), ["tbl", "bucket"]).alias("x")
    y = b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            _pair_cosine("x", "y").alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEAR_DUP_COSINE)
        .groupBy("vec_a", "vec_b")
        .agg(F.min("cosine").alias("cosine"))
    )




@register(
    "llm_span_dedup_trim",
    oracle=rf"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    g AS (
      SELECT doc_id, t,
             unnest(CASE WHEN len(t) >= {_SPAN_N}
                    THEN range(0, len(t) - {_SPAN_N - 1}) ELSE [] END) AS p
      FROM toked
    ),
    grams AS (
      SELECT doc_id, p,
             md5(array_to_string(t[p + 1 : p + {_SPAN_N}], ' ')) AS h
      FROM g
    ),
    canon AS (
      SELECT h, COUNT(*) AS cnt,
             MIN(struct_pack(d := doc_id, p := p)) AS first_key
      FROM grams GROUP BY h
    ),
    removable AS (
      SELECT grams.doc_id, grams.p
      FROM grams JOIN canon USING (h)
      WHERE cnt >= 2
        AND struct_pack(d := grams.doc_id, p := grams.p) != first_key
    ),
    covered AS (
      SELECT doc_id, unnest(range(p, p + {_SPAN_N})) AS pos FROM removable
    ),
    cov AS (
      SELECT doc_id, list(DISTINCT pos) AS cl FROM covered GROUP BY doc_id
    )
    SELECT toked.doc_id,
           CAST(len(t) AS BIGINT) AS n_tok,
           CAST(COALESCE(len(cl), 0) AS BIGINT) AS n_removed,
           md5(COALESCE(array_to_string(
             list_transform(
               list_filter(range(0, len(t)),
                           i -> NOT list_contains(COALESCE(cl, []), i)),
               i -> t[i + 1]), ' '), '')) AS kept_hash
    FROM toked LEFT JOIN cov ON toked.doc_id = cov.doc_id
    """,
)
def llm_span_dedup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup as a TRANSFORM, not just a score: every
    duplicated {_SPAN_N}-token span keeps only its globally-first
    occurrence (min (doc_id, position)); later occurrences have their
    token positions cut from the document (Lee et al. 2022's
    remove-all-but-one semantics). Emits per doc the removed-token
    count and an md5 of the rebuilt text so the oracle verifies the
    actual surviving CONTENT.

    Scale shape: occurrences explode to (doc, pos, gram-md5) — linear
    in corpus tokens; canonical selection is ONE hash agg on the
    uniform 128-bit gram key (min of a (doc,pos) struct merges
    map-side and cannot overflow); the rejoin rides the same key. Covered positions fan
    out ≤ {_SPAN_N}× the removable rows and collapse to one small
    per-doc array (bounded by the doc's own token count — collect_set
    here can never exceed the document it describes). The rebuild is a
    pure array expression over the original token array: no token-level
    shuffle, no order-sensitive reassembly join.
    """
    return span_dedup_trim(load_table(spark, sf_dir, "documents"))


def span_dedup_trim(docs: DataFrame) -> DataFrame:
    """The reusable operator behind ``llm_span_dedup_trim`` over any
    (doc_id, text) relation — property-tested against a pure-Python
    reference on synthetic corpora (tests/test_span_trim_property.py)
    in addition to the registered query's DuckDB oracle."""
    toked = tokenized(docs)
    g = toked.select(
        "doc_id",
        "t",
        F.explode(
            F.when(
                F.size("t") >= _SPAN_N,
                F.sequence(F.lit(0), F.size("t") - _SPAN_N),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
    )
    grams = g.select(
        "doc_id",
        "p",
        F.md5(
            F.concat_ws(" ", F.slice("t", F.col("p") + 1, _SPAN_N))
        ).alias("h"),
    )
    # canonical occurrence = lexicographic min of (doc_id, p): a struct
    # min merges map-side like any agg and cannot overflow, unlike an
    # arithmetic doc_id*K + p composite key
    okey = F.struct(F.col("doc_id").alias("d"), F.col("p").alias("p"))
    # Occurrence count and canonical first occurrence as window
    # aggregates over ONE h exchange (cnt counts ALL occurrences —
    # within-doc repeats trim at this grain, unlike the substring
    # family's distinct-doc gate): the former agg + join-back computed
    # the gram stream once per consumer and shuffled it twice.
    wh = Window.partitionBy("h")
    removable = (
        grams.withColumn("cnt", F.count(F.lit(1)).over(wh))
        .withColumn("first_key", F.min(okey).over(wh))
        .filter((F.col("cnt") >= 2) & (okey != F.col("first_key")))
        .select("doc_id", "p")
    )
    cov = (
        removable.select(
            "doc_id",
            F.explode(F.sequence("p", F.col("p") + (_SPAN_N - 1))).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("cl"))
    )
    cl = F.coalesce(F.col("cl"), F.array().cast("array<int>"))
    kept_idx = F.filter(
        F.sequence(F.lit(0), F.size("t") - 1),
        lambda i: ~F.array_contains(cl, i),
    )
    return (
        toked.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tok"),
            F.coalesce(F.size("cl"), F.lit(0)).cast("long").alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(kept_idx, lambda i: F.element_at("t", i + 1)),
                )
            ).alias("kept_hash"),
        )
    )


#: The curation stages after the quality filter, over ``keyed(doc_id,
#: lang, ck, ...)``: exact dedup (``canon``/``dedup``), benchmark
#: decontamination (``clean``) and the per-language mix sample
#: (``final``).
_SQL_CURATION_TAIL = f"""canon AS (SELECT ck, MIN(doc_id) AS cid
      FROM keyed GROUP BY ck),
    dedup AS (
      SELECT keyed.* FROM keyed
      JOIN canon ON keyed.ck = canon.ck AND keyed.doc_id = canon.cid
    ),
    {_SQL_DECON_GRAMS},
    {_SQL_DECON_BENCH},
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM grams c JOIN bench b ON c.g = b.g
      WHERE c.doc_id % {_DECON_MOD} <> {_DECON_REM}
    ),
    clean AS (
      SELECT * FROM dedup
      WHERE doc_id % {_DECON_MOD} <> {_DECON_REM}
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    final AS (
      SELECT * FROM clean
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
            < CASE WHEN lang = 'en' THEN '{_MIX_THR_EN}'
                   ELSE '{_MIX_THR_OTHER}' END
    )"""


@register(
    "llm_curation_pipeline",
    oracle=rf"""
    WITH {_SQL_TERM_COUNTS},
    {_SQL_GOPHER_KEEP},
    keyed AS (
      SELECT d.doc_id, lang, source,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS ck,
             len({_SQL_TOKENS}) AS n_tok
      FROM documents d JOIN qual USING (doc_id)
    ),
    {_SQL_CURATION_TAIL}
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM final GROUP BY lang, source
    """,
)
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation run a training-data team ships, composed
    from this engine's own registered operators: Gopher quality filter →
    exact dedup (canonical = min surviving doc per content key) →
    benchmark decontamination (drop the held-out slice AND every doc
    sharing a {_DECON_N}-gram with it) → reproducible per-language
    mix-sampling — reported as kept docs + tokens per (lang, source).

    Each stage is the SAME function the standalone queries run
    (`llm_gopher_quality_filter`, `llm_decontaminate_overlap`, the
    dedup/mix predicates), so the pipeline inherits their individually
    verified semantics; this query's own oracle re-verifies the
    composition end-to-end.

    Scale shape: the stages chain as semi/anti joins on doc_id — each
    stage's survivor set is a one-column relation, so inter-stage data
    movement is ids, never text. Quality and dedup are the hash aggs
    audited on their standalone queries; decontamination's gram join
    stays broadcast; the mix filter is map-side; the closing rollup is
    one hash agg on (lang, source). Nothing in the composition adds a
    shuffle the stages didn't already pay.
    """
    kept = curate_documents(load_table(spark, sf_dir, "documents"))
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


def curate_documents(
    docs: DataFrame,
    readability_band: "tuple[float, float] | None" = None,
) -> DataFrame:
    """The curation pipeline's survivor set over any (doc_id, text,
    lang, source) relation: (doc_id, lang, source, n_tok) rows that
    pass quality -> dedup-canonical -> decontamination -> mix-sampling.
    Backs both ``llm_curation_pipeline`` and the ``curate`` CLI
    command.

    The corpus is scanned and tokenized ONCE: a hash-partitioned
    (doc_id, lang, source, tokens) relation is persisted
    (MEMORY_AND_DISK) and every stage derives from it — the quality
    rules and decontamination read the cached tokens, ``n_tok`` rides
    out of the quality aggregate, and the dedup content key is
    ``md5(concat_ws(' ', t))`` (identical to the whitespace-normalized
    text hash, since the tokens ARE the \\s+-split of the trimmed
    lowered text). Exchange reuse can't do this: Catalyst pushes each
    stage's doc_id filters below a shared repartition, splitting it
    into per-stage scans — an explicit cache is the barrier that keeps
    the plan at one FileScan (pinned by tests/test_plan_hygiene.py).
    The hash(doc_id) partitioning baked in before the persist
    pre-satisfies every per-doc rollup downstream of both explodes.
    At 100 TB the cache is disk-backed and ~input-sized: strictly
    cheaper than the three corpus scans + tokenizes it replaces, at the
    usual persist() cost of executor-local storage pressure.
    """
    from pyspark import StorageLevel

    # Readability needs punctuation/vowel counts from the RAW text, so
    # they are computed as two per-row ints BEFORE the text is dropped
    # — the cached relation stays the single corpus scan either way.
    extra = []
    if readability_band is not None:
        extra = [
            F.greatest(
                F.lit(1),
                F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")),
            ).alias("n_sent"),
            F.greatest(
                F.lit(1),
                F.size(
                    F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
                ),
            ).alias("n_syl"),
        ]
    # persist, not pin(): a checkpoint would drop the partitioning
    # that the keyed consumers below reuse (plans/materialize.py).
    cached = (
        docs.select("doc_id", "lang", "source", _tokens().alias("t"), *extra)
        .repartition("doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    toked = cached.select("doc_id", "t")
    quality = (
        gopher_quality_filter_from_tokens(toked)
        .filter(F.col("keep"))
        .select("doc_id", "n_tok")
    )
    if readability_band is not None:
        lo, hi = readability_band
        w = F.size("t").cast("double")
        fl = (
            F.lit(206.835)
            - F.lit(1.015) * (w / F.col("n_sent"))
            - F.lit(84.6) * (F.col("n_syl").cast("double") / w)
        )
        readable = (
            cached.select("doc_id", fl.alias("fl"))
            .filter((F.col("fl") >= lo) & (F.col("fl") <= hi))
            .select("doc_id")
        )
        quality = quality.join(readable, "doc_id")
    keyed = cached.join(quality, "doc_id").select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.concat_ws(" ", "t")).alias("ck"),
        "n_tok",
    )
    canon = keyed.groupBy("ck").agg(F.min("doc_id").alias("cid"))
    dedup = (
        keyed.join(canon, "ck")
        .filter(F.col("doc_id") == F.col("cid"))
        .drop("cid", "ck")
    )
    contaminated_ids = decontaminate_overlap_from_tokens(toked).select(
        "doc_id"
    )
    is_bench = (F.col("doc_id") % _DECON_MOD) == _DECON_REM
    clean = dedup.filter(~is_bench).join(
        contaminated_ids, "doc_id", "left_anti"
    )
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = F.when(F.col("lang") == "en", F.lit(_MIX_THR_EN)).otherwise(
        F.lit(_MIX_THR_OTHER)
    )
    return clean.filter(h4 < thr)


def _ln_libm() -> "Column":
    """``ln`` evaluated by the C library (via an Arrow-batched pandas
    UDF), not the JVM: ``java.lang.Math.log`` and libm ``log`` disagree
    by 1 ulp on some inputs, which breaks the bitwise cross-engine
    contract for BM25's idf (DuckDB's ``ln`` IS libm). The UDF is only
    ever applied to the ONE-ROW corpus-stats relation (one value per
    vocabulary term), so the Python boundary costs nothing at scale —
    the per-document hot path stays pure JVM arithmetic."""
    import math

    @F.pandas_udf("double")
    def _ln(x: pd.Series) -> pd.Series:
        return x.map(lambda v: math.log(v) if pd.notna(v) else None)

    return _ln


#: BM25 parameters (Robertson-Sparck Jones defaults) and a fixed
#: keyword query over the test corpus vocabulary.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("data", "spark", "query")
_BM25_TOPK = 20


@register(
    "llm_bm25_topk",
    oracle=rf"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    tf AS (
      SELECT doc_id, len(t) AS dl,
             {", ".join(
               f"len(list_filter(t, x -> x = '{term}')) AS tf{i}"
               for i, term in enumerate(_BM25_TERMS)
             )}
      FROM toked
    ),
    g AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
             {", ".join(
               f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
               for i in range(len(_BM25_TERMS))
             )}
      FROM tf
    )
    SELECT doc_id,
           {" + ".join(
             f"ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) * "
             f"(tf{i} * CAST({_BM25_K1 + 1} AS DOUBLE)) / "
             f"(tf{i} + CAST({_BM25_K1} AS DOUBLE) * (1 - {_BM25_B} "
             f"+ {_BM25_B} * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))"
             for i in range(len(_BM25_TERMS))
           )} AS score
    FROM tf, g
    WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval: exact BM25 top-{_BM25_TOPK} for a fixed
    {len(_BM25_TERMS)}-term query — the lexical complement of the
    cosine/ANN vector family (a RAG corpus serves both). Scores are
    bitwise cross-engine: every input to the formula is an exact
    integer (term frequencies, doc lengths, document frequencies,
    corpus size), each double appears through the identical expression
    tree in both engines, and the per-term partial scores are summed in
    the same fixed term order — never via an order-free aggregate.
    Literal hazard encoded in the oracle: DuckDB parses ``1.2 + 1`` as
    EXACT DECIMAL 2.2 while Spark's literal is the double 2.2 (which is
    not 2.2) — every non-representable constant in the SQL twin is
    explicitly CAST to DOUBLE so both engines run the same bits.

    Scale shape: term frequencies are per-row array expressions in the
    scan stage (no explode — the query has {len(_BM25_TERMS)} known
    terms, so ``size(filter(t, =term))`` beats exploding the corpus);
    the corpus stats (N, Σdl, per-term df) are ONE scalar aggregate
    broadcast back; scoring is map-side; the cut is a
    TakeOrderedAndProject. Total cost: one corpus pass + a 1-row
    broadcast. The multi-query batch generalization is
    ``llm_bm25_batch_topk``. The idf's ``ln`` is pinned to C libm via
    ``_ln_libm`` (JVM ``Math.log`` is 1 ulp off libm on some inputs,
    which broke bitwise parity for certain df values).
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    def _tf(term: str) -> Column:
        # NB: the lambda must take exactly ONE argument — PySpark treats
        # a second parameter as the element-index request, so the usual
        # `lambda x, term=term:` capture idiom silently compares against
        # the array index instead of the term.
        return F.size(F.filter("t", lambda x: x == term))

    tf_cols = [
        _tf(term).alias(f"tf{i}") for i, term in enumerate(_BM25_TERMS)
    ]
    tf = toked.select("doc_id", F.size("t").alias("dl"), *tf_cols)
    g = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    ln = _ln_libm()
    g = g.select(
        "*",
        *[
            ln(
                F.lit(1)
                + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
                / (F.col(f"df{i}") + F.lit(0.5))
            ).alias(f"idf{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = None
    for i in range(len(_BM25_TERMS)):
        part = F.col(f"idf{i}") * (
            F.col(f"tf{i}") * (_BM25_K1 + 1)
        ) / (
            F.col(f"tf{i}")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
        )
        score = part if score is None else score + part
    any_tf = None
    for i in range(len(_BM25_TERMS)):
        any_tf = (
            F.col(f"tf{i}")
            if any_tf is None
            else any_tf + F.col(f"tf{i}")
        )
    return (
        tf.join(F.broadcast(g))
        .filter(any_tf > 0)
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(_BM25_TOPK)
    )


@register(
    "llm_interleave_by_source",
    oracle=f"""
    SELECT doc_id, source,
           CAST(intra AS BIGINT) AS intra_rank,
           CAST(ROW_NUMBER() OVER (
             ORDER BY intra, source, shuffle_key, doc_id
           ) AS BIGINT) AS interleave_pos
    FROM (
      SELECT doc_id, source,
             md5('{_ORDER_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('{_ORDER_SEED}' || CAST(doc_id AS VARCHAR)),
                        doc_id
             ) AS intra
      FROM documents
    )
    """,
)
def llm_interleave_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F31 EXT: SOURCE-INTERLEAVED training order — deterministic
    round-robin across sources: each doc gets a seeded-hash rank
    WITHIN its source, and the global order sorts by (intra_rank,
    source), so consecutive documents cycle through the sources
    instead of clumping (gradient batches see a stable source mix —
    the anti-clumping complement of `llm_training_order`'s pure
    shuffle; same per-source quota logic as temperature-sampled data
    loaders, at temperature 1).

    Scale shape: one shuffle partitioned by source for the intra rank;
    the global position is ONE final rank over already-(intra, source)
    -clustered rows — at scale the global row_number is replaced by
    the same two-phase offset trick as `llm_pps_sample_by_tokens`
    (sharded by intra_rank ranges), or consumed as the sort key of a
    training-shard export, which never needs the dense index
    materialized.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(_ORDER_SEED), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", "source", key.alias("shuffle_key"))
    wsrc = Window.partitionBy("source").orderBy("shuffle_key", "doc_id")
    ranked = keyed.withColumn(
        "intra", F.row_number().over(wsrc).cast("long")
    )
    wglob = Window.orderBy("intra", "source", "shuffle_key", "doc_id")
    return ranked.select(
        "doc_id",
        "source",
        F.col("intra").alias("intra_rank"),
        F.row_number().over(wglob).cast("long").alias("interleave_pos"),
    )


def interleave_order(
    docs: DataFrame, n_shards: int = _ORDER_SHARDS, seed: str = _ORDER_SEED
) -> DataFrame:
    """The reusable source-interleaved order behind
    ``llm_interleave_by_source``, emitted in the training-shard layout
    schema (doc_id, shuffle_key, shard, pos_in_shard): the global
    round-robin position is cut into ``n_shards`` contiguous blocks so
    shard-major file order IS the interleaved order. Requires a
    ``source`` column alongside ``doc_id``."""
    from pyspark.sql.window import Window

    key = F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", "source", key.alias("shuffle_key"))
    wsrc = Window.partitionBy("source").orderBy("shuffle_key", "doc_id")
    ranked = keyed.withColumn("intra", F.row_number().over(wsrc))
    wglob = Window.orderBy("intra", "source", "shuffle_key", "doc_id")
    pos = ranked.withColumn(
        "gpos", F.row_number().over(wglob).cast("long")
    )
    total = pos.agg(F.count(F.lit(1)).alias("total"))
    rows_per = F.ceil(F.col("total") / n_shards).cast("long")
    shard = ((F.col("gpos") - 1) / rows_per).cast("int")
    return (
        pos.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "shuffle_key",
            shard.alias("shard"),
            (F.col("gpos") - shard.cast("long") * rows_per).alias(
                "pos_in_shard"
            ),
        )
    )


@register(
    "llm_corpus_length_report",
    oracle=rf"""
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           q[1] AS p25, q[2] AS p50, q[3] AS p75, q[4] AS p95
    FROM (
      SELECT lang,
             COUNT(*) AS n_docs,
             SUM(n_tok) AS n_tokens,
             quantile_cont(CAST(n_tok AS DOUBLE),
                           [0.25, 0.5, 0.75, 0.95]) AS q
      FROM (
        SELECT lang, len({_SQL_TOKENS}) AS n_tok FROM documents
      )
      GROUP BY lang
    )
    """,
)
def llm_corpus_length_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8 composed: the per-language CORPUS REPORT a data team reads
    before setting curation thresholds — document counts, total token
    budget, and the exact document-length quartiles/p95 per language
    (the distribution the Gopher length bounds and chunking sizes are
    tuned against).

    Exactness: percentiles interpolate the same order statistics of the
    same doubles on both engines (the `agg_percentile_prices` anchor
    pattern); counts and token sums are exact integers. Scale shape:
    one map-side tokenize + ONE shuffle on the language key; at corpus
    scale the same report swaps percentile → percentile_approx (the
    mergeable-sketch twin `agg_percentile_prices_approx` demonstrates,
    rank-error-bounded in pytest) — the exact form is the
    oracle-checkable anchor.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("lang", F.size(_tokens()).alias("n_tok"))
    q = F.expr(
        "percentile(CAST(n_tok AS DOUBLE), "
        "array(0.25D, 0.5D, 0.75D, 0.95D))"
    )
    return (
        keyed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            q.alias("q"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.col("q")[0].alias("p25"),
            F.col("q")[1].alias("p50"),
            F.col("q")[2].alias("p75"),
            F.col("q")[3].alias("p95"),
        )
    )


#: PPS systematic sample size.
_PPS_K = 20


@register(
    "llm_pps_sample_by_tokens",
    oracle=rf"""
    WITH keyed AS (
      SELECT doc_id,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tok, h,
             SUM(n_tok) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS c,
             SUM(n_tok) OVER () AS total
      FROM keyed
    )
    SELECT doc_id, n_tok,
           CAST((c * {_PPS_K}) // total AS BIGINT) AS pick_idx
    FROM cum
    WHERE (c * {_PPS_K}) // total > ((c - n_tok) * {_PPS_K}) // total
    """,
)
def llm_pps_sample_by_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 EXT: probability-proportional-to-size SYSTEMATIC sampling by
    token weight — walk the corpus in a content-stable hash order,
    accumulate token counts, and pick the ~{_PPS_K} documents where the
    running total crosses a stride boundary (each doc selected with
    probability ≈ k·w/W). This is the weighted-sampling scheme that
    stays EXACT under distribution: no float priorities (an
    exp/pow-keyed A-ExpJ reservoir would hang the driver-gate hash on
    cross-libm transcendentals), just integer token counts, one integer
    prefix sum, and integer division — bitwise portable by
    construction, and every quantity stays below 2^63 for corpora up to
    ~10^17 tokens × k.

    Scale shape (two-phase prefix sum — a GLOBAL running-sum window
    would drag the corpus into one partition): per-shard token totals
    (16 rows, shard = first hex of the order key) get exclusive
    offsets via a 16-row window; the within-shard running sum windows
    on (shard) partitions; global position = shard offset + local sum.
    The oracle states the same arithmetic as one flat window — equal
    because shard order is the order key's own first hex.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("shard", F.substring("h", 1, 1))
    shard_tot = keyed.groupBy("shard").agg(F.sum("n_tok").alias("st"))
    w16 = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, 0)
    offsets = shard_tot.select(
        "shard", (F.sum("st").over(w16) - F.col("st")).alias("off")
    )
    total = shard_tot.agg(F.sum("st").alias("total"))
    wloc = Window.partitionBy("shard").orderBy("h", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        keyed.withColumn("lc", F.sum("n_tok").over(wloc))
        .join(F.broadcast(offsets), "shard")
        .crossJoin(F.broadcast(total))
        .withColumn("c", F.col("off") + F.col("lc"))
    )
    pick = F.expr(f"(c * {_PPS_K}) div total")
    prev = F.expr(f"((c - n_tok) * {_PPS_K}) div total")
    return (
        cum.filter(pick > prev)
        .select("doc_id", "n_tok", pick.cast("long").alias("pick_idx"))
    )


#: Multi-benchmark decontamination: each benchmark is a deterministic
#: doc_id slice (id ≡ rem mod m) standing in for a distinct eval suite.
#: Disjoint moduli make the slices overlap partially — a doc can sit in
#: one benchmark and still be contaminated BY another.
_DECON_BENCHMARKS = (
    ("bench_a", 50, 7),
    ("bench_b", 41, 3),
    ("bench_c", 67, 11),
)


def _decon_multi_oracle() -> str:
    bench_union = "\n      UNION ALL\n".join(
        f"""      SELECT '{bid}' AS bench_id, g FROM (
        SELECT DISTINCT g FROM grams WHERE doc_id % {m} = {r}
      )"""
        for bid, m, r in _DECON_BENCHMARKS
    )
    self_excl = "\n        AND ".join(
        f"NOT (b.bench_id = '{bid}' AND c.doc_id % {m} = {r})"
        for bid, m, r in _DECON_BENCHMARKS
    )
    return f"""
    WITH {_SQL_DECON_GRAMS},
    bench AS (
{bench_union}
    ),
    totals AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
    ),
    hits AS (
      SELECT c.doc_id, b.bench_id, COUNT(*) AS n_contaminated
      FROM grams c JOIN bench b ON c.g = b.g
      WHERE {self_excl}
      GROUP BY c.doc_id, b.bench_id
    )
    SELECT h.doc_id, h.bench_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(h.n_contaminated AS BIGINT) AS n_contaminated,
           CAST(h.n_contaminated AS DOUBLE) / t.n_grams
             AS contaminated_frac
    FROM hits h JOIN totals t USING (doc_id)
    """


@register("llm_decontaminate_multi", oracle=_decon_multi_oracle())
def llm_decontaminate_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 generalized: decontaminate against SEVERAL benchmark suites in
    ONE corpus pass — the production shape (a training corpus is checked
    against every eval suite at once, not re-scanned per suite). Each
    hit row carries which benchmark it collides with, so a pipeline can
    apply per-suite policies (drop for suite A, tag for suite B).

    Single-pass discipline (the batch-BM25 pattern applied to J9): the
    corpus is exploded to n-grams ONCE; the per-benchmark DISTINCT gram
    sets are unioned with a bench_id tag into one eval-suite-sized
    broadcast; the inner hash join fans each corpus gram out only to
    the benchmarks that contain it (≤ |benchmarks|×); per-(doc, bench)
    hits and per-doc totals are two hash aggregates over the same
    exploded relation, joined AFTER aggregation (both post-agg
    relations are hit-sized, not corpus-sized). A doc inside benchmark
    X is excluded from X's own hits but still checked against the
    others. Counts exact, fraction one IEEE divide — bitwise.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    # NOT checkpointed: the per-benchmark readers carry doc_id-slice
    # filters that Catalyst pushes BELOW the explode, so each
    # "recompute" explodes only its slice — materializing the full
    # stream costs more than the partial recomputes (A/B-measured).
    grams = toked.select(
        "doc_id", F.explode(_word_ngrams(F.col("t"), _DECON_N)).alias("g")
    )
    bench = None
    for bid, m, r in _DECON_BENCHMARKS:
        b = (
            grams.filter((F.col("doc_id") % m) == r)
            .select("g")
            .distinct()
            .select(F.lit(bid).alias("bench_id"), "g")
        )
        bench = b if bench is None else bench.unionByName(b)
    self_excl = None
    for bid, m, r in _DECON_BENCHMARKS:
        cond = ~((F.col("bench_id") == bid) & ((F.col("doc_id") % m) == r))
        self_excl = cond if self_excl is None else self_excl & cond
    totals = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    hits = (
        grams.join(F.broadcast(bench), "g")
        .filter(self_excl)
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    return hits.join(totals, "doc_id").select(
        "doc_id",
        "bench_id",
        "n_grams",
        "n_contaminated",
        (
            F.col("n_contaminated").cast("double") / F.col("n_grams")
        ).alias("contaminated_frac"),
    )


#: The multi-query BM25 batch: (query_id, terms) pairs scored in ONE
#: corpus pass (the single-query docstring's stated generalization).
_BM25_BATCH = (
    ("q_scan", ("scan", "filter", "column")),
    ("q_join", ("join", "hash", "merge")),
    ("q_stream", ("stream", "window", "batch")),
)
_BM25_VOCAB = tuple(
    sorted({t for _, terms in _BM25_BATCH for t in terms})
)


def _bm25_batch_oracle() -> str:
    """Compose the DuckDB twin of ``llm_bm25_batch_topk``: shared
    per-vocab-term TFs + one stats row, then one scored SELECT per
    query UNION ALL'd and rank-cut per query."""
    vi = {t: j for j, t in enumerate(_BM25_VOCAB)}
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{term}')) AS tf{j}"
        for j, term in enumerate(_BM25_VOCAB)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{j} > 0 THEN 1 ELSE 0 END) AS df{j}"
        for j in range(len(_BM25_VOCAB))
    )

    def _score(terms: tuple[str, ...]) -> str:
        return " + ".join(
            f"ln(1 + (n_docs - df{vi[t]} + 0.5) / (df{vi[t]} + 0.5)) * "
            f"(tf{vi[t]} * CAST({_BM25_K1 + 1} AS DOUBLE)) / "
            f"(tf{vi[t]} + CAST({_BM25_K1} AS DOUBLE) * (1 - {_BM25_B} "
            f"+ {_BM25_B} * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))"
            for t in terms
        )

    scored = "\n      UNION ALL\n".join(
        f"""      SELECT '{qid}' AS query_id, doc_id, {_score(terms)} AS score
      FROM tf, g
      WHERE {" + ".join(f"tf{vi[t]}" for t in terms)} > 0"""
        for qid, terms in _BM25_BATCH
    )
    return f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    tf AS (
      SELECT doc_id, len(t) AS dl, {tf_cols} FROM toked
    ),
    g AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM tf
    ),
    scored AS (
{scored}
    )
    SELECT query_id, doc_id, score, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
             ) AS rk
      FROM scored
    )
    WHERE rk <= {_BM25_TOPK}
    """


@register("llm_bm25_batch_topk", oracle=_bm25_batch_oracle())
def llm_bm25_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25: score a BATCH of keyword queries in ONE corpus
    pass — the production shape for retrieval evaluation or RAG serving
    where hundreds of queries amortize a single scan.

    Single-pass discipline: the per-doc TF of every DISTINCT term in
    the batch vocabulary is a per-row array expression in the scan
    stage (no explode); corpus stats (N, Σdl, per-vocab-term df) are
    ONE scalar aggregate broadcast back; each query's score is a
    fixed-order sum over ITS terms' shared TF columns; the per-query
    rows materialize via an unpivot (``stack`` — map-side, row count ×
    |batch| only after the any-term filter); the per-query top-k cut
    runs as a rank window that WindowGroupLimit prunes to k rows per
    query per map partition before the single (query_id)-keyed
    shuffle. Bitwise cross-engine for the same reasons as
    ``llm_bm25_topk`` (exact-integer inputs, identical expression
    trees, fixed summation order, every non-representable constant
    CAST to DOUBLE in the SQL twin).
    """
    from pyspark.sql.window import Window

    vi = {t: j for j, t in enumerate(_BM25_VOCAB)}
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)

    def _tf(term: str) -> Column:
        # one-arg lambda only: a second parameter would be interpreted
        # as the element-index request (see llm_bm25_topk)
        return F.size(F.filter("t", lambda x: x == term))

    tf = toked.select(
        "doc_id",
        F.size("t").alias("dl"),
        *[_tf(term).alias(f"tf{j}") for j, term in enumerate(_BM25_VOCAB)],
    )
    g = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{j}") > 0, 1).otherwise(0)).alias(f"df{j}")
            for j in range(len(_BM25_VOCAB))
        ],
    )
    ln = _ln_libm()
    g = g.select(
        "*",
        *[
            ln(
                F.lit(1)
                + (F.col("n_docs") - F.col(f"df{j}") + F.lit(0.5))
                / (F.col(f"df{j}") + F.lit(0.5))
            ).alias(f"idf{j}")
            for j in range(len(_BM25_VOCAB))
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def _score(terms: tuple[str, ...]) -> Column:
        total = None
        for t in terms:
            j = vi[t]
            part = F.col(f"idf{j}") * (
                F.col(f"tf{j}") * (_BM25_K1 + 1)
            ) / (
                F.col(f"tf{j}")
                + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
            )
            total = part if total is None else total + part
        return total

    def _any_tf(terms: tuple[str, ...]) -> Column:
        total = None
        for t in terms:
            c = F.col(f"tf{vi[t]}")
            total = c if total is None else total + c
        return total

    # unpivot: one (query_id, score, any_tf) row per query per doc
    unpivoted = (
        tf.join(F.broadcast(g))
        .select(
            "doc_id",
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(qid).alias("query_id"),
                            _score(terms).alias("score"),
                            _any_tf(terms).alias("any_tf"),
                        )
                        for qid, terms in _BM25_BATCH
                    ]
                )
            ),
        )
        .filter(F.col("any_tf") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        unpivoted.select(
            "query_id",
            "doc_id",
            "score",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= _BM25_TOPK)
    )


#: Reciprocal-rank-fusion constant (the standard k=60 from Cormack et
#: al.'s RRF paper).
_RRF_K = 60


def _oracle_of(name: str) -> str:
    from .registry import QUERIES

    return QUERIES[name].oracle


#: The RRF oracle embeds the two source oracles as subqueries. Both are
#: registered ABOVE this point in the module, so the composed SQL is
#: built eagerly and handed to @register like any other oracle — no
#: post-hoc registry mutation, no window where the spec carries None.
_RRF_ORACLE = f"""
WITH lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM ({{bm25}})
),
vec AS (
  SELECT vec_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS vec_rank
  FROM ({{cosine}})
)
SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(vec_rank AS BIGINT) AS vec_rank,
       COALESCE(CAST(1 AS DOUBLE) / ({{k}} + lex_rank), 0)
         + COALESCE(CAST(1 AS DOUBLE) / ({{k}} + vec_rank), 0)
         AS rrf_score
FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
ORDER BY rrf_score DESC, doc_id
""".format(
    bm25=_oracle_of("llm_bm25_topk"),
    cosine=_oracle_of("llm_cosine_topk_bruteforce"),
    k=_RRF_K,
)


@register(
    "llm_hybrid_rrf_fusion",
    oracle=_RRF_ORACLE,
)
def llm_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: reciprocal-rank fusion of the lexical
    (`llm_bm25_topk`) and vector (`llm_cosine_topk_bruteforce`, vec_id
    read as doc_id) result lists — rrf = Σ 1/({_RRF_K} + rank) over the
    systems that returned the doc (Cormack et al. 2009), the standard
    way a RAG stack merges keyword and embedding search without score
    calibration.

    Exactness: ranks are integers; each contribution is one double
    divide; the two contributions add in a fixed order — bitwise
    cross-engine (the oracle composes the two source oracles verbatim,
    so fusion is verified END-TO-END through both retrieval paths).

    Scale shape: both inputs are top-k lists — constant-size relations
    regardless of corpus size — so the rank windows and the full-outer
    join are over ≤ k rows each; the corpus-scale work remains inside
    the two source queries, already audited on their own entries.
    """
    from pyspark.sql.window import Window

    lex = llm_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .cast("long")
        .alias("lex_rank"),
    )
    vec = llm_cosine_topk_bruteforce(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "vec_id"))
        .cast("long")
        .alias("vec_rank"),
    )
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.lit(1).cast("double") / (F.lit(_RRF_K) + F.col(c)), F.lit(0.0)
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            (contrib("lex_rank") + contrib("vec_rank")).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
    )


#: Stratified sample quota per language.
_STRAT_N = 5


@register(
    "llm_stratified_sample",
    oracle=rf"""
    SELECT doc_id, lang,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    WHERE rk <= {_STRAT_N}
    """,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 EXT: STRATIFIED sampling with an exact per-group quota — the
    first {_STRAT_N} docs of every language in content-stable md5 order
    (eval-set construction, per-language spot-check pulls). Exact
    quotas are what rate-based sampling can't give; hash order makes
    the draw reproducible and monotone like `llm_mix_sample_by_lang`.

    Scale shape: one shuffle partitioned by the strata key, rank
    computed within each stratum (AQE handles a skewed stratum); with
    a top-{_STRAT_N} filter Catalyst runs the window as a running
    rank + early filter, never materializing full strata.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id", "lang", F.row_number().over(w).cast("long").alias("rk")
        )
        .filter(F.col("rk") <= _STRAT_N)
    )


# ---------------------------------------------------------------------------
# Information-theoretic quality signals (round 6)
# ---------------------------------------------------------------------------

#: Fixed-point scale for quantized natural logs ("micro-nats"). Sums of
#: quantized logs are exact 64-bit integers, so per-document totals are
#: summation-order-independent — the same trick the cosine kernels use
#: for dot products. floor(1e6 · ln x) of any corpus-plausible count
#: stays far below 2^63 / corpus length.
_LN_MICRO = 1_000_000

#: DuckDB twin of the quantization: ln is libm on both sides (Spark
#: evaluates it with the same C library via the Arrow-batched
#: `_ln_libm` UDF), the double multiply and floor are IEEE-exact.
_SQL_LN_MICRO = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


@register(
    "llm_token_entropy",
    oracle=rf"""
    WITH counts AS (
      SELECT doc_id, term, COUNT(*) AS c
      FROM (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
      )
      GROUP BY doc_id, term
    ),
    scored AS (
      SELECT doc_id,
             SUM(c) AS n,
             SUM(c * {_SQL_LN_MICRO.format(x='c')}) AS s
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST({_SQL_LN_MICRO.format(x='n')} * n - s AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1000000) AS entropy_nats
    FROM scored
    """,
)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: per-document token Shannon entropy in nats —
    H = (n·ln n − Σ c·ln c) / n — the classic gibberish/boilerplate
    signal (low entropy ⇒ repetitive template text, high ⇒ diverse
    vocabulary; complements `llm_repetition_signals`' n-gram view).

    Cross-engine exactness: a float Σ c·ln c is summation-order-
    dependent, so ln is quantized to integer micro-nats FIRST
    (floor(1e6·ln x), ln evaluated by libm on both engines) and the
    per-document total is an exact 64-bit sum; one final double
    division emits nats. The ln lookup runs over the DISTINCT count
    values only — a relation bounded by max within-doc term frequency
    (hundreds), so the Python boundary is O(distinct counts), not
    O(corpus).

    Scale shape: ONE corpus scan — one explode → (doc, term) hash agg
    (map-side combine), PERSISTED (MEMORY_AND_DISK) because four
    branches read it (the distinct-count values, the per-doc lengths,
    the scoring join) and Catalyst would otherwise re-derive each
    branch from its own corpus scan (the `curate_documents` lesson:
    exchange reuse can't bridge branches whose projections differ —
    the cache is the barrier, pinned by tests/test_plan_hygiene.py).
    The cached relation is ≤ corpus tokens and strictly cheaper than
    the 3 corpus scans + tokenizes it replaces. Downstream: per-doc
    rollups keyed by uniform doc_id; the ln table is broadcast.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # persist, not pin(): a checkpoint would drop the partitioning
    # that the keyed consumers below reuse (plans/materialize.py).
    pairs = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ln_udf = _ln_libm()
    distinct_vals = (
        pairs.select(F.col("c").alias("v"))
        .union(
            pairs.groupBy("doc_id")
            .agg(F.sum("c").alias("v"))
            .select("v")
        )
        .distinct()
    )
    # read by 2 broadcast joins
    ln_table = pin(
        distinct_vals.select(
            "v",
            F.floor(ln_udf(F.col("v").cast("double")) * _LN_MICRO)
            .cast("long")
            .alias("ln_micro"),
        )
    )
    scored = (
        pairs.join(F.broadcast(ln_table), pairs.c == ln_table.v)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.col("ln_micro")).alias("s"),
        )
    )
    out = scored.join(
        F.broadcast(ln_table.withColumnRenamed("ln_micro", "ln_n_micro")),
        scored.n == F.col("v"),
    )
    return out.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        (
            (F.col("ln_n_micro") * F.col("n") - F.col("s")).cast("double")
            / (F.col("n").cast("double") * F.lit(float(_LN_MICRO)))
        ).alias("entropy_nats"),
    )


@register(
    "llm_unigram_surprisal",
    oracle=rf"""
    WITH toked AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    ctf AS (
      SELECT term, COUNT(*) AS ctot FROM toked GROUP BY term
    ),
    st AS (
      SELECT SUM(ctot) AS n_corpus, COUNT(*) AS v FROM ctf
    ),
    lp AS (
      SELECT term,
             CAST(floor(-ln(CAST(ctot + 1 AS DOUBLE)
                            / CAST(n_corpus + v AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lp_micro
      FROM ctf, st
    ),
    dt AS (
      SELECT doc_id, term, COUNT(*) AS c FROM toked GROUP BY doc_id, term
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(c * lp_micro) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * 1000000) AS avg_surprisal_nats
    FROM dt JOIN lp USING (term)
    GROUP BY doc_id
    """,
)
def llm_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: unigram-LM surprisal quality score — the corpus itself
    is the language model (add-one-smoothed unigram probabilities), and
    each document is scored by its mean token surprisal −ln p(t) in
    nats. This is the cheap end of the KenLM-perplexity filter family
    (CCNet/RedPajama use a 5-gram LM; the unigram form needs no model
    artifact and already separates gibberish / wrong-language text from
    fluent text). exp(avg_surprisal) is the document's unigram
    perplexity.

    Cross-engine exactness: same micro-nat quantization as
    `llm_token_entropy` — per-term −ln p is computed once (libm ln via
    the Arrow-batched UDF, O(vocabulary) rows through Python, never
    O(corpus)), floored to integer micro-nats, and per-document totals
    are exact 64-bit sums; ONE final double division per document.

    Scale shape: ONE corpus scan — the exploded tokens collapse into a
    PERSISTED (doc, term) count relation (map-side combined;
    MEMORY_AND_DISK for the same reason as `llm_token_entropy`: three
    branches read it and Catalyst would re-derive each from its own
    corpus scan). Corpus term frequencies DERIVE from that aggregate
    (`ctf = Σ_doc c`, the TF-IDF derive-the-small-from-the-big
    discipline — never a second token explode), the (N, V) stats are a
    1-row broadcast onto the vocabulary relation, and the scoring join
    is term-keyed against the O(vocab) score table (broadcast while
    the vocab is small, shuffle-join at 100 TB — either way keyed on
    the uniform term hash). Linear in corpus tokens.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # persist, not pin(): a checkpoint would drop the partitioning
    # that the keyed consumers below reuse (plans/materialize.py).
    dt = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ctf = dt.groupBy("term").agg(F.sum("c").alias("ctot"))
    stats = ctf.agg(
        F.sum("ctot").alias("n_corpus"), F.count(F.lit(1)).alias("v")
    )
    ln_udf = _ln_libm()
    p = (F.col("ctot") + 1).cast("double") / (
        F.col("n_corpus") + F.col("v")
    ).cast("double")
    lp = (
        ctf.crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.floor((-ln_udf(p)) * _LN_MICRO).cast("long").alias("lp_micro"),
        )
    )
    return (
        dt.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("c") * F.col("lp_micro")).cast("double")
                / (F.sum("c").cast("double") * F.lit(float(_LN_MICRO)))
            ).alias("avg_surprisal_nats"),
        )
    )


@register(
    "llm_quality_percentile_by_lang",
    oracle=rf"""
    WITH q AS (
      SELECT doc_id, lang,
             CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr
      FROM (SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents)
      WHERE len(t) > 0
    )
    SELECT doc_id, lang, ttr,
           percent_rank() OVER (PARTITION BY lang ORDER BY ttr) AS pr,
           CASE WHEN percent_rank() OVER (PARTITION BY lang ORDER BY ttr)
                     >= 0.2
                THEN TRUE ELSE FALSE END AS keep
    FROM q
    """,
)
def llm_quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: per-language quality CALIBRATION — a raw quality signal
    (type-token ratio here) is not comparable across languages, so
    curation thresholds are set on the within-language percentile rank
    instead ("drop the bottom quintile of EACH language", the
    CCNet/RedPajama per-language bucketing move). Emits the percentile
    and the keep/drop verdict at the 20th-percentile floor.

    Cross-engine exactness: ttr is per-row double arithmetic (bitwise
    rule 1); percent_rank is (rank−1)/(n−1) — integer window counts and
    ONE double division, and ties share a rank so equal ttr values get
    equal percentiles regardless of partition order.

    Scale shape: one shuffle on the language key; a skewed language is
    the stratified-sample story (AQE) — and because the score is the
    ORDER key, the window needs no full sort beyond what any
    per-stratum ranking pays. The keep filter composes with
    `curate_documents` as another id-set semi-join stage.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _tokens().alias("t")
    )
    keyed = docs.filter(F.size("t") > 0).select(
        "doc_id",
        "lang",
        (F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias(
            "ttr"
        ),
    )
    w = Window.partitionBy("lang").orderBy("ttr")
    pr = F.percent_rank().over(w)
    return keyed.select(
        "doc_id",
        "lang",
        "ttr",
        pr.alias("pr"),
        (pr >= F.lit(0.2)).alias("keep"),
    )


#: Bigram table report size.
_BIGRAM_TOPK = 30


@register(
    "llm_bigram_lm_top",
    oracle=rf"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
      WHERE len({_SQL_TOKENS}) >= 2
    ),
    pairs AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toked, UNNEST(range(1, len(t))) AS u(i)
    ),
    big AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2
    ),
    uni AS (
      SELECT w1, SUM(c12) AS c1 FROM big GROUP BY w1
    )
    SELECT b.w1, b.w2,
           CAST(b.c12 AS BIGINT) AS c12,
           CAST(u.c1 AS BIGINT) AS c1,
           CAST(b.c12 AS DOUBLE) / u.c1 AS cond_p
    FROM big b JOIN uni u USING (w1)
    ORDER BY c12 DESC, w1, w2
    LIMIT {_BIGRAM_TOPK}
    """,
)
def llm_bigram_lm_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F41 sibling: bigram language-model table — conditional next-token
    probabilities P(w2|w1) = c(w1,w2)/c(w1·), reported for the corpus's
    most frequent bigrams. The first rung past the unigram LM
    (`llm_unigram_surprisal`) on the n-gram-LM ladder — the same two
    relations back a bigram-perplexity filter or an autocomplete table.

    The unigram denominator derives from the BIGRAM aggregate (one
    SUM per w1), NOT a second corpus pass — the TF-IDF
    derive-the-small-from-the-big discipline. Counts are exact
    integers; cond_p is one double division per surviving row.

    Scale shape: one index-explode over documents (≈1 row per token),
    a (w1,w2) hash agg with map-side combine, the O(vocab) rollup, a
    w1-keyed equi-join, and a TakeOrderedAndProject cut — no sort of
    the full bigram relation.
    """
    docs = load_table(spark, sf_dir, "documents").select(_tokens().alias("t"))
    toked = docs.filter(F.size("t") >= 2)
    pairs = toked.select(
        F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"), "t"
    ).select(
        F.element_at("t", F.col("i")).alias("w1"),
        F.element_at("t", F.col("i") + 1).alias("w2"),
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        big.join(uni, "w1")
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.col("c1").cast("long").alias("c1"),
            (F.col("c12").cast("double") / F.col("c1")).alias("cond_p"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(_BIGRAM_TOPK)
    )


from ..sources.contracts import SQL_WS_PATTERN as _SQL_WS  # noqa: E402


@register(
    "llm_dedup_rate_by_source",
    oracle=rf"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_uniq,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / COUNT(*)
             AS dup_rate
    FROM (
      SELECT source,
             md5(regexp_replace(text, '{_SQL_WS}', '', 'g')) AS h
      FROM documents
    )
    GROUP BY source
    """,
)
def llm_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 composed: per-source DUPLICATION REPORT — document counts,
    distinct content-hash counts, and the exact duplicate rate per
    source (the triage view that tells a curation team WHICH feed is
    flooding the corpus before they run the expensive near-dup pass).
    Shares the reference's content-identity hash (`utils.rs:12-17`
    semantics via `sources/contracts.contract_id`), so its numbers
    reconcile exactly with `ref_dedup_documents`.

    Scale shape: map-side hash, one shuffle keyed by (source) with the
    distinct count executed as a two-level (source, h) partial
    aggregate — Spark plans count(DISTINCT) via expand+two-phase agg,
    never a per-group set in memory. One double division per source.
    """
    docs = load_table(spark, sf_dir, "documents")
    from ..sources import contracts as C

    keyed = docs.select("source", C.contract_id("text").alias("h"))
    return keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_uniq"),
        (
            (F.count(F.lit(1)) - F.countDistinct("h")).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


#: Heavy-hitter threshold: report terms with count > N/_HH_K.
_HH_K = 30
#: Misra-Gries sketch size — 2× the reporting threshold so the sketch's
#: n/(size+1) undercount can never evict a true heavy hitter.
_HH_SKETCH = 60


@register(
    "llm_heavy_hitters",
    oracle=rf"""
    WITH toked AS (
      SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    st AS (SELECT COUNT(*) AS n FROM toked)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toked, st
    GROUP BY term, n
    HAVING COUNT(*) * {_HH_K} > n
    ORDER BY cnt DESC, term
    """,
)
def llm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: EXACT frequent terms (count > N/_HH_K) via the two-pass
    sketch-then-verify scheme — the distributed form of Misra-Gries
    heavy hitters. Pass 1 runs a MERGEABLE Misra-Gries summary per
    partition inside ``mapInPandas`` over xxhash64(term) — int64
    hashes, not strings, cross the Python boundary (Arrow batches; per
    batch a vectorized value_counts merges into the running summary,
    with the (size+1)-th-largest-count subtraction on overflow; hash
    collisions only add mass, so the superset guarantee survives and
    pass 2's exact term counts discard any collision-borne
    candidate). Pigeonhole +
    the MG error bound (undercount ≤ n_p/(sketch+1), sketch = 2k)
    guarantee the per-partition candidate union is a SUPERSET of every
    term with global count > N/k — so pass 2's exact count of the
    candidates alone reproduces the full-aggregation answer bit-for-bit
    REGARDLESS of partitioning, which is what makes an oracle possible
    for a sketch-powered operator.

    Why not just groupBy(term).count? At 100 TB with a web-scale
    vocabulary the full term aggregate is itself huge; here the shuffle
    carries ≤ 2k·partitions candidate rows (pass 1) plus the
    candidate-filtered counts (pass 2) — the heavy relation never
    shuffles. The candidate set is broadcast into pass 2's semi-join.

    This is the exact-answer complement of the engine's other sketches
    (HLL distinct, GK percentiles): mergeable summary for discovery,
    cheap second pass for exactness.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs).select(
        F.explode("t").alias("term")
    )

    sketch_size = _HH_SKETCH

    def mg_partition(batches):
        # Fully vectorized merge (VERDICT r6 nit #1): the running
        # summary is a hash-indexed int64 Series; each Arrow batch
        # merges via index-aligned add (no per-term Python loop) and
        # overflow trims by subtracting the (size+1)-th-largest count —
        # the decrement-all step of Misra-Gries, batched.
        run = pd.Series(dtype="int64")
        total = 0
        for pdf in batches:
            vc = pdf["h"].value_counts()
            total += int(vc.sum())
            run = run.add(vc, fill_value=0).astype("int64")
            if len(run) > sketch_size:
                cut = int(run.nlargest(sketch_size + 1).iloc[-1])
                run = run - cut
                run = run[run > 0]
        yield pd.DataFrame(
            {
                "h": pd.array(
                    list(run.index) + [None], dtype="Int64"
                ),
                "total": [0] * len(run) + [total],
            }
        )

    # The sketch pass runs over xxhash64(term) — 8 bytes/token across
    # the Python boundary instead of the token string (guide §4: the
    # boundary cost is the bytes you ship). Collisions only ADD hash
    # mass, so the candidate superset property is preserved; pass 2
    # counts the actual terms exactly and the final threshold filter
    # removes any collision-borne false candidates.
    hashed = toked.select(F.xxhash64("term").alias("h"))
    # r18 (guide §1.2/§5): the sketch output is BOUNDED — ≤(sketch+1)
    # rows per input partition — but it feeds TWO consumers (candidate
    # set, total count), so left lazy the corpus-wide Arrow sketch pass
    # ran twice. Clean-session A/B 3.3 s -> ~2 s.
    summaries = pin(hashed.mapInPandas(mg_partition, "h long, total long"))
    cands = summaries.filter(F.col("h").isNotNull()).select("h").distinct()
    n_total = summaries.agg(F.sum("total").alias("n"))
    counts = (
        toked.join(
            F.broadcast(cands), F.xxhash64("term") == F.col("h"), "left_semi"
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(n_total))
        .filter(F.col("cnt") * _HH_K > F.col("n"))
        .select("term", F.col("cnt").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
    )


@register(
    "llm_minhash_estimate_calibration",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    {_SQL_SIZES},
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           CAST({" + ".join(
             f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
             for i in range(_N_HASHES)
           )} AS BIGINT) AS n_match,
           CAST({" + ".join(
             f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
             for i in range(_N_HASHES)
           )} AS DOUBLE) / {_N_HASHES} AS est_jaccard,
           CAST(COALESCE(i.i, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.i, 0)) AS true_jaccard,
           abs(CAST({" + ".join(
             f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
             for i in range(_N_HASHES)
           )} AS DOUBLE) / {_N_HASHES}
               - CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / (sa.n + sb.n - COALESCE(i.i, 0))) AS abs_err
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    """,
)
def llm_minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 EXT: sketch CALIBRATION — for every MinHash-LSH candidate
    pair, the signature's Jaccard ESTIMATE (matching components / 8)
    side-by-side with the TRUE shingle-set Jaccard and the absolute
    error. "Measure, don't guess" applied to the sketch itself: this is
    the report that justifies (or resizes) the 8-hash signature before
    a 100 TB dedup run — E[est] = J and the observed error column is
    the empirical √(J(1−J)/8).

    Round 11: the candidate pairs AND the signature components come
    from the S21 store (``minhash_candidate_pairs_stored`` /
    ``minhash_sigs_stored`` — the stored sigs table exists exactly so
    the estimate side of this report never re-runs the corpus
    signature aggregate). The shingle relation feeds only what
    genuinely needs shingles: per-doc sizes and the true-Jaccard
    intersection joins, which carry sort-merge hints because BOTH
    sides are corpus-proportional (the r6 scale-probe lesson — a
    size-estimated broadcast here is fatal at scale). Estimates and
    truths are integer ratios: one double division each, bitwise on
    both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    # The distinct shingle relation feeds THREE subtrees (per-doc sizes
    # and both sides of the intersection join); each recompute was a
    # full tokenize + shingle explode + distinct pass over the corpus.
    # Materialize once — the relation the joins shuffle anyway.
    sh = pin(
        toked.select(
            "doc_id", F.explode(_word_ngrams(F.col("t"))).alias("s")
        ).distinct()
    )
    sig = minhash_sigs_stored(spark, sf_dir)
    cand = minhash_candidate_pairs_stored(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x, y = sh.alias("x"), sh.alias("y").hint("merge")
    inter = (
        cand.hint("merge")
        .join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(
            y,
            (F.col("doc_b") == F.col("y.doc_id"))
            & (F.col("x.s") == F.col("y.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    a, b = sig.alias("a").hint("merge"), sig.alias("b").hint("merge")
    sa = sizes.alias("sa").hint("merge")
    sb = sizes.alias("sb").hint("merge")
    n_match = sum(
        F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
        for i in range(_N_HASHES)
    )
    i_val = F.coalesce(F.col("i"), F.lit(0))
    true_j = i_val.cast("double") / (F.col("sa.n") + F.col("sb.n") - i_val)
    est_j = n_match.cast("double") / F.lit(_N_HASHES)
    return (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .join(inter.hint("merge"), ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("long").alias("n_match"),
            est_j.alias("est_jaccard"),
            true_j.alias("true_jaccard"),
            F.abs(est_j - true_j).alias("abs_err"),
        )
    )


#: Shared SQL prefix: the MinHash-LSH candidate-edge CTEs (identical to
#: llm_minhash_lsh_pairs' pipeline) — reused by the graph-analytics
#: oracles so the edge set is bit-identical across queries.
_SQL_LSH_EDGES = rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    edges AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bsz USING (band_idx, key)
      JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                  AND a.doc_id < b.doc_id
    )
"""


@register(
    "llm_triangle_counts",
    oracle=rf"""
    {_SQL_LSH_EDGES},
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM edges e1
      JOIN edges e2 ON e2.doc_a = e1.doc_b
      JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    member AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY doc_id
    ORDER BY n_triangles DESC, doc_id
    """,
)
def llm_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 EXT graph analytics: per-document TRIANGLE counts over the
    MinHash-LSH candidate graph — the local-density signal that
    separates a tight duplicate clique (every pair similar: many
    triangles) from a hub-and-spoke template chain (a popular
    boilerplate matching many unrelated docs: zero triangles). Dedup
    pipelines use exactly this to decide "collapse the whole cluster"
    vs "strip the shared boilerplate instead".

    The classic distributed-triangle discipline: edges are ORIENTED
    (doc_a < doc_b), so each triangle a<b<c is found exactly once as
    (a,b)+(b,c) closed by (a,c) — no factor-of-6 duplication, and the
    two equi-joins shuffle on node keys only. At 100 TB the hazard is
    a high-degree node making the wedge join quadratic; the LSH
    bucket cap already bounds degree by construction (a doc meets ≤
    cap−1 docs per band), which is the structural guard a raw web
    graph would need a degree-threshold for.

    Exactness: everything is integer counts over md5-derived edges —
    bit-identical on both engines.
    """
    # candidate edges from the S21 band store: the whole query never
    # touches documents.parquet (round 11 — see minhash_candidate_
    # pairs_stored)
    edges = (
        minhash_candidate_pairs_stored(spark, sf_dir)
        .select("doc_a", "doc_b")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2").hint("merge")
    e3 = edges.alias("e3").hint("merge")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    member = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return (
        member.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "doc_id")
    )


#: PMI collocation report: minimum pair support and report size.
_PMI_MIN_C = 5
_PMI_TOPK = 20


@register(
    "llm_pmi_collocations",
    oracle=rf"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
      WHERE len({_SQL_TOKENS}) >= 2
    ),
    pairs AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toked, UNNEST(range(1, len(t))) AS u(i)
    ),
    big AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2
    ),
    uni1 AS (SELECT w1, SUM(c12) AS c1 FROM big GROUP BY w1),
    uni2 AS (SELECT w2, SUM(c12) AS c2 FROM big GROUP BY w2),
    st AS (SELECT SUM(c12) AS n FROM big)
    SELECT w1, w2,
           CAST(c12 AS BIGINT) AS c12,
           CAST({_SQL_LN_MICRO.format(x='c12')} + {_SQL_LN_MICRO.format(x='n')}
                - {_SQL_LN_MICRO.format(x='c1')} - {_SQL_LN_MICRO.format(x='c2')}
                AS DOUBLE) / 1000000 AS pmi_nats
    FROM big
    JOIN uni1 USING (w1)
    JOIN uni2 USING (w2)
    CROSS JOIN st
    WHERE c12 >= {_PMI_MIN_C}
    ORDER BY pmi_nats DESC, w1, w2
    LIMIT {_PMI_TOPK}
    """,
)
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F43 sibling: PMI COLLOCATIONS — pointwise mutual information
    ln(N·c12/(c1·c2)) over adjacent token pairs, the classic
    collocation-mining statistic (Church & Hanks 1990): high PMI =
    tokens that co-occur far more than their marginals predict
    (multi-word expressions, named entities), where the bigram LM's
    cond_p only finds frequent continuations. A support floor
    (c12 ≥ _PMI_MIN_C) kills the low-count PMI pathology.

    Cross-engine exactness: PMI is a SUM OF LOGS, so each factor is
    quantized to integer micro-nats independently (libm ln both sides,
    the `llm_token_entropy` discipline) and combined with exact integer
    adds/subtracts — one double division at the end. The marginals and
    the grand total all DERIVE from the bigram aggregate (three
    rollups of one relation — no second corpus pass).

    Scale shape: one index-explode + (w1,w2) hash agg, two O(vocab)
    rollups + a 1-row total, w-keyed equi-joins, TakeOrderedAndProject
    cut. The ln lookup is O(distinct counts) through Python.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select(_tokens().alias("t"))
    toked = docs.filter(F.size("t") >= 2)
    pairs = toked.select(
        F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"), "t"
    ).select(
        F.element_at("t", F.col("i")).alias("w1"),
        F.element_at("t", F.col("i") + 1).alias("w2"),
    )
    # persist, not pin(): a checkpoint would drop the partitioning
    # that the keyed consumers below reuse (plans/materialize.py).
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni1 = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni2 = big.groupBy("w2").agg(F.sum("c12").alias("c2"))
    st = big.agg(F.sum("c12").alias("n"))
    ln_udf = _ln_libm()
    vals = (
        big.select(F.col("c12").alias("v"))
        .union(uni1.select(F.col("c1").alias("v")))
        .union(uni2.select(F.col("c2").alias("v")))
        .union(st.select(F.col("n").alias("v")))
        .distinct()
    )
    # O(distinct counts) rows, but referenced by FOUR broadcast joins
    # below — without the checkpoint each broadcast build re-ran the
    # 4-way union of aggregates over `big` plus the libm-ln Python
    # stage. One materialization, four cheap re-reads.
    ln_table = pin(
        vals.select(
            "v",
            F.floor(ln_udf(F.col("v").cast("double")) * _LN_MICRO)
            .cast("long")
            .alias("q"),
        )
    )

    def q_of(col, alias):
        t = ln_table.alias(alias)
        return t, F.col(f"{alias}.q")

    t12, q12 = q_of("c12", "l12")
    t1, q1 = q_of("c1", "l1")
    t2, q2 = q_of("c2", "l2")
    tn, qn = q_of("n", "ln_n")
    return (
        big.filter(F.col("c12") >= _PMI_MIN_C)
        .join(uni1, "w1")
        .join(uni2, "w2")
        .crossJoin(F.broadcast(st))
        .join(F.broadcast(t12), F.col("c12") == F.col("l12.v"))
        .join(F.broadcast(t1), F.col("c1") == F.col("l1.v"))
        .join(F.broadcast(t2), F.col("c2") == F.col("l2.v"))
        .join(F.broadcast(tn), F.col("n") == F.col("ln_n.v"))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            ((q12 + qn - q1 - q2).cast("double") / F.lit(1e6)).alias(
                "pmi_nats"
            ),
        )
        .orderBy(F.desc("pmi_nats"), "w1", "w2")
        .limit(_PMI_TOPK)
    )


#: Lloyd k-means configuration: cluster count, unrolled iterations,
#: and the seed vectors (vec_id 0..K-1 quantize to the initial
#: centroids — deterministic, data-dependent, engine-independent).
_KM_K = 8
_KM_ITERS = 2


def _sql_km_x6() -> str:
    """DuckDB: embeddings exploded to (vec_id, d, x6) fixed-point."""
    return """
      SELECT vec_id, d,
             CAST(CAST(CAST(embedding[d] AS DOUBLE) AS DECIMAL(18,6))
                  * 1000000 AS BIGINT) AS x6
      FROM embeddings, range(1, 65) r(d)
    """


def _sql_km_iteration(prev: str, idx: int) -> str:
    """One unrolled Lloyd iteration: assignment against centroid
    relation ``prev`` then floor-quantized per-dim mean (empty clusters
    keep their previous centroid)."""
    return f"""
    dist{idx} AS (
      SELECT e.vec_id, c.cluster,
             SUM((e.x6 - c.cq) * (e.x6 - c.cq)) AS dist
      FROM x6 e JOIN {prev} c ON c.d = e.d
      GROUP BY e.vec_id, c.cluster
    ),
    assign{idx} AS (
      SELECT vec_id, cluster, dist FROM dist{idx}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cluster) = 1
    ),
    cent{idx} AS (
      SELECT p.cluster, p.d,
             COALESCE(u.cq, p.cq) AS cq
      FROM {prev} p
      LEFT JOIN (
        SELECT a.cluster, e.d,
               CAST(floor(CAST(SUM(e.x6) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS cq
        FROM assign{idx} a JOIN x6 e ON e.vec_id = a.vec_id
        GROUP BY a.cluster, e.d
      ) u ON u.cluster = p.cluster AND u.d = p.d
    )"""


def _sql_km_iterations() -> str:
    """ALL unrolled Lloyd iteration CTEs, generated from ``_KM_ITERS``
    — the same constant the Spark loop ranges over — so bumping the
    iteration count can never desynchronize plan and oracle (they
    would previously drift silently: the oracle hardcoded two unrolled
    blocks while the Spark side looped ``range(_KM_ITERS)``)."""
    return ",".join(
        _sql_km_iteration(f"cent{i - 1}", i) for i in range(1, _KM_ITERS + 1)
    )


def _km_state(spark: SparkSession, sf_dir: str, iters: int = _KM_ITERS):
    """Shared Lloyd driver for the k-means family: returns
    ``(x6, cent, dist, assign)`` after ``iters`` iterations.

    The K×dim centroid relation is ``pin``-ned after every update so
    the logical plan stays FLAT: without truncation the centroid
    accretes one left-join per iteration and a 10-iteration run plans
    a 10-deep join tree before the first task launches. Checkpointing
    a K×dim (≈512-row) relation costs one tiny job per iteration — the
    standard price of iterative algorithms on Spark (same pattern as
    the connected-components loop).
    """
    from pyspark import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    # persist, not pin(): every Lloyd iteration reads x6, and the lazy
    # cache fills inside the first centroid pin's job, where pin(x6)
    # would cost an eager job of its own (plans/materialize.py).
    x6 = (
        emb.select(
            "vec_id",
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: (
                        x.cast("double").cast("decimal(18,6)") * _FP
                    ).cast("long"),
                )
            ).alias("d0", "x6"),
        )
        .select("vec_id", (F.col("d0") + 1).alias("d"), "x6")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cent = x6.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").cast("int").alias("cluster"), "d",
        F.col("x6").alias("cq"),
    )
    dist = assign = None
    for it in range(iters):
        dist = (
            x6.join(F.broadcast(cent), "d")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    (F.col("x6") - F.col("cq")) * (F.col("x6") - F.col("cq"))
                ).alias("dist")
            )
        )
        assign = (
            dist.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cluster")).alias("m"))
            .select("vec_id", F.col("m.cluster").alias("cluster"),
                    F.col("m.dist").alias("dist"))
        )
        update = (
            assign.join(x6, "vec_id")
            .groupBy("cluster", "d")
            .agg(
                F.floor(
                    F.sum("x6").cast("double") / F.count(F.lit(1))
                ).cast("long").alias("new_cq")
            )
        )
        cent = cent.join(update, ["cluster", "d"], "left").select(
            "cluster", "d", F.coalesce("new_cq", "cq").alias("cq")
        )
        # Truncate lineage between iterations; the LAST centroid is
        # left lazy — no registered query consumes it, so an eager
        # checkpoint there would only burn a job.
        if it < iters - 1:
            cent = pin(cent)
    return x6, cent, dist, assign


#: The k-means family's Lloyd run: ``x6`` vectors, the first ``_KM_K``
#: as ``cent0``, then every unrolled iteration.
_SQL_KMEANS = f"""x6 AS ({_sql_km_x6()}),
    cent0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cluster, d, x6 AS cq
      FROM x6 WHERE vec_id < {_KM_K}
    ),
    {_sql_km_iterations()}"""


@register(
    "llm_kmeans_lloyd",
    oracle=rf"""
    WITH {_SQL_KMEANS}
    SELECT vec_id,
           CAST(cluster AS INTEGER) AS cluster,
           CAST(dist AS BIGINT) AS dist_fp2
    FROM assign{_KM_ITERS}
    """,
)
def llm_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 EXT: distributed LLOYD K-MEANS with cross-engine EXACTNESS —
    _KM_K clusters, _KM_ITERS unrolled iterations, seeded from the
    first _KM_K vectors. Iterative ML on DataFrames usually lives in the rows-only
    tail (spark.ml's KMeans: RNG init + float accumulation order); this
    formulation is bit-reproducible on BOTH engines, so the oracle can
    check every assignment: coordinates quantize to the centroid
    UDAF's DECIMAL(18,6) fixed point, distances are EXACT int64 sums
    of squared differences (order-independent), the argmin tie-breaks
    on cluster id, and each new centroid is the floor-quantized
    per-dim mean (one deterministic double division + floor). Empty
    clusters keep their previous centroid on both engines.

    Scale shape per iteration: the tiny (K×dim) centroid relation
    broadcast-joins onto the exploded coordinates map-side; the
    (vec, cluster) partial sums combine before ONE shuffle on vec_id;
    assignment is a min-struct aggregate (no window over raw data);
    the update is a (cluster, dim)-keyed hash agg of the same exploded
    relation — the textbook distributed-k-means cost, with the
    exploded coordinates PERSISTED across iterations so the corpus is
    scanned once, not per iteration, and the centroid lineage pinned
    between iterations so the plan stays flat at any iteration count
    (see ``_km_state``).
    """
    _, _, _, assign = _km_state(spark, sf_dir)
    return assign.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        F.col("dist").cast("long").alias("dist_fp2"),
    )


@register(
    "llm_kmeans_silhouette",
    oracle=rf"""
    WITH {_SQL_KMEANS},
    d2 AS (
      SELECT vec_id, cluster, dist FROM dist{_KM_ITERS}
    ),
    own AS (
      SELECT vec_id, cluster, dist AS a FROM assign{_KM_ITERS}
    ),
    other AS (
      SELECT d2.vec_id, MIN(d2.dist) AS b
      FROM d2 JOIN own ON own.vec_id = d2.vec_id
      WHERE d2.cluster <> own.cluster
      GROUP BY d2.vec_id
    )
    SELECT own.cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN own.a < other.b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_well_separated,
           CAST(SUM(CASE WHEN own.a < other.b THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS separation_rate
    FROM own JOIN other ON other.vec_id = own.vec_id
    GROUP BY own.cluster
    ORDER BY cluster
    """,
)
def llm_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 companion: centroid-based SEPARATION report for the Lloyd
    clustering — per cluster, how many members sit strictly closer to
    their own centroid than to ANY other (the centroid-silhouette
    criterion; full pairwise silhouette is O(n²) and adds nothing at
    this grain). The report a pipeline reads to decide whether K is
    sane before acting on cluster labels.

    Exactness: own- and other-centroid distances are the same exact
    int64 fixed-point sums the k-means oracle uses; the verdict is an
    integer comparison and the rate is one division. Scale shape: the
    (vec × K) distance relation is re-derived from the same broadcast
    centroid join (no new corpus pass beyond k-means' own), the
    nearest-other reduction is a vec-keyed min-agg, and the report
    rolls up to K rows.
    """
    _, _, dist, last_assign = _km_state(spark, sf_dir)
    own = last_assign.select(
        "vec_id", F.col("cluster").alias("own_cluster"), F.col("dist").alias("a")
    )
    other = (
        dist.join(own, "vec_id")
        .filter(F.col("cluster") != F.col("own_cluster"))
        .groupBy("vec_id")
        .agg(F.min("dist").alias("b"))
    )
    sep = (F.col("a") < F.col("b")).cast("long")
    return (
        own.join(other, "vec_id")
        .groupBy(F.col("own_cluster").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(sep).cast("long").alias("n_well_separated"),
            (F.sum(sep).cast("double") / F.count(F.lit(1))).alias(
                "separation_rate"
            ),
        )
        .orderBy("cluster")
    )


@register(
    "llm_chunk_documents_udtf",
    oracle=QUERIES["llm_chunk_documents"].oracle,
)
def llm_chunk_documents_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-EXT: the chunker as a Spark 4 PYTHON UDTF (lateral table
    function) carrying the SAME oracle as the Catalyst form
    (`llm_chunk_documents`) — the point is the machinery, not the math:
    a `@udtf` class yielding N rows per document, invoked via LATERAL
    join, still meets the bit-exact cross-engine gate. This is the
    third Python boundary the engine exercises (after Arrow pandas
    UDFs and mapInPandas), reserved in production for 1-row→N-row
    transforms that genuinely need imperative Python. Measured
    honestly (SCALE.md): at bench SF and the 10× probe the UDTF is
    actually slightly FASTER than the expression form on this corpus
    of short documents (row-at-a-time overhead is per-document and
    these documents are ~50 tokens; the expression form pays a double
    tokenize) — the expression form stays the production path because
    its cost is bounded by Catalyst codegen whatever the document
    length, while the UDTF's interpreter cost grows with every token
    a longer-document corpus pushes through Python.
    """
    from ..functions.udtf_ops import make_chunk_udtf

    chunker = make_chunk_udtf(_CHUNK_TOKENS, _CHUNK_STRIDE)
    spark.udtf.register("chunk_document_udtf", chunker)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_udtf_chunk_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.start_tok, c.chunk_len,
               c.chunk_hash
        FROM _udtf_chunk_docs d,
             LATERAL chunk_document_udtf(d.text) c
        """
    )


#: Recall-audit sample: ground truth is quadratic, so it is measured
#: on a FIXED-SIZE deterministic sample (the first _RECALL_K vec_ids)
#: — constant truth cost at ANY corpus size, unlike a modulus sample
#: whose all-pairs truth grows quadratically with the corpus.
_RECALL_K = 500


@register(
    "llm_ann_recall_report",
    oracle=rf"""
    WITH {_SQL_SCALED},
    {_SQL_ANN_BUCKETS},
    cand AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM n x
      JOIN ok USING (bucket)
      JOIN n y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE CAST(CAST(list_aggregate(
              list_transform(list_zip(x.sv, y.sv), p -> p[1] * p[2]),
              'sum') AS BIGINT) AS DOUBLE) / (x.nrm * y.nrm)
            >= {_NEAR_DUP_COSINE}
    ),
    samp AS (
      SELECT * FROM n WHERE vec_id < {_RECALL_K}
    ),
    truth AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM samp x JOIN samp y ON x.vec_id < y.vec_id
      WHERE CAST(CAST(list_aggregate(
              list_transform(list_zip(x.sv, y.sv), p -> p[1] * p[2]),
              'sum') AS BIGINT) AS DOUBLE) / (x.nrm * y.nrm)
            >= {_NEAR_DUP_COSINE}
    ),
    caught AS (
      SELECT t.vec_a FROM truth t
      JOIN cand c ON c.vec_a = t.vec_a AND c.vec_b = t.vec_b
    )
    SELECT CAST((SELECT COUNT(*) FROM samp) AS BIGINT) AS sample_size,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT COUNT(*) FROM caught) AS BIGINT) AS n_caught,
           CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
             / (SELECT COUNT(*) FROM truth) AS recall
    """,
)
def llm_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 EXT: measured ANN RECALL — the hyperplane-LSH candidate
    generator audited against brute-force ground truth on a
    deterministic FIXED-SIZE sample (first _RECALL_K vec_ids): how many true
    ≥-threshold pairs within the sample did the bucketed pipeline
    actually surface. The vector-side twin of
    `llm_minhash_estimate_calibration`, and the number that justifies
    the plane count / table count before a production dedup run
    (`tests/test_ann_recall.py` bounds the ANALYTIC recall; this
    measures the real thing on real data).

    Scale shape: candidates come from the production bucketed plan
    (bucket-equi-join, capped); only the GROUND-TRUTH side is
    quadratic, and it runs on the fixed-SIZE sample — constant audit
    cost at any corpus size, bounded and broadcastable
    (the sampled self-join is the one intentional nested-loop here,
    allowlisted like the other bounded broadcasts). Exactness: the
    same fixed-point cosine everywhere; counts are exact; recall is
    one division.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cand = ann_cosine_pairs(
        emb,
        n_planes=_planes_at_oracle_floor(emb.count(), "llm_ann_recall_report"),
    ).select("vec_a", "vec_b")
    # r18 (VERDICT #3): no materialization — the relation is _RECALL_K
    # rows behind a pushed-down `vec_id < K` parquet filter, so each of
    # its 3 consumers re-reads a metadata-pruned scan for less than a
    # checkpoint's job-submission cost (the r17 eager checkpoint here
    # was one of the two overheads behind the 0.90× driver regression).
    samp = _emb_encode(emb.filter(F.col("vec_id") < _RECALL_K))
    x, y = samp.alias("x"), samp.alias("y")
    # The truth sample feeds exactly ONE consumer since the r17
    # single-pass hit-marking rewrite (a left join against the
    # unique-per-pair candidate relation marks hits, so n_true/n_caught
    # collapse into one aggregation) — so the r17 eager checkpoint of it
    # bought nothing and cost a job submission per call (VERDICT #3,
    # the other half of the 0.90× regression). Leave it lazy.
    truth = (
        x.join(F.broadcast(y), F.col("x.vec_id") < F.col("y.vec_id"))
        .filter(_pair_cosine("x", "y") >= _NEAR_DUP_COSINE)
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
        )
    )
    tc = truth.join(
        cand.withColumn("hit", F.lit(1)), ["vec_a", "vec_b"], "left"
    ).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_caught"),
    )
    n_samp = samp.agg(F.count(F.lit(1)).alias("sample_size"))
    return (
        n_samp.crossJoin(F.broadcast(tc))
        .select(
            F.col("sample_size").cast("long"),
            F.col("n_true").cast("long"),
            F.col("n_caught").cast("long"),
            (
                F.col("n_caught").cast("double") / F.col("n_true")
            ).alias("recall"),
        )
    )


@register("llm_approx_top_terms_sketch", oracle=None)
def llm_approx_top_terms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT rows-only: Spark 4's built-in ``approx_top_k`` frequency
    sketch over the exploded tokens — the one-pass, fixed-memory
    counterpart of `llm_heavy_hitters`' exact two-pass scheme. Rows-only
    by nature: the sketch's counts depend on merge order across
    partitions, so no cross-engine oracle can exist — instead pytest
    bounds it against the exact heavy hitters (every exact heavy term
    must appear in a generously-sized sketch, with the sketch count
    within the structure's documented error of the true count).

    Scale shape: one explode feeding a single ObjectHashAggregate; the
    sketch is a mergeable fixed-size summary, so memory is constant per
    partition whatever the vocabulary — the trade the exact scheme's
    second pass buys its way out of.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(F.explode(_tokens()).alias("term"))
    return (
        toked.select(
            F.expr("approx_top_k(term, 20, 1000)").alias("top")
        )
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").alias("term"),
            F.col("e.count").cast("long").alias("approx_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Round-7 additions: fuzzy-dedup verify, novelty scoring, semantic dedup,
# per-language vocabulary mode, readability, Zipf law fit.
# ---------------------------------------------------------------------------

#: Edit-distance verify: compare only the first _ED_PREFIX chars of each
#: candidate (bounds the O(len²) DP per pair), keep pairs within
#: _ED_MAX edits.
_ED_PREFIX = 200
_ED_MAX = 60


@register(
    "llm_edit_distance_pairs",
    oracle=rf"""
    WITH sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES}
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(substring(da.text, 1, {_ED_PREFIX}),
                            substring(db.text, 1, {_ED_PREFIX}))
                AS BIGINT) AS edit_distance
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE levenshtein(substring(da.text, 1, {_ED_PREFIX}),
                      substring(db.text, 1, {_ED_PREFIX})) <= {_ED_MAX}
    """,
)
def llm_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-EXT: character-level FUZZY-DEDUP verify — Levenshtein distance
    over LSH candidate pairs, the second stage a pipeline runs when
    token-level Jaccard is too coarse (near-identical docs with small
    character edits: versioned boilerplate, typo families).

    Never all-pairs: candidates come from the SAME banded-MinHash plan
    as the Jaccard family (bucket-capped, shuffle keyed on band
    buckets); the DP runs only per candidate and only on the first
    ``_ED_PREFIX`` chars (a fixed cost ceiling per pair — the standard
    prefix-filter trade). Two result-preserving plan accelerations the
    oracle doesn't need: a LENGTH-DIFFERENCE prefilter (|len a − len b|
    > k ⇒ distance > k, no DP needed) runs before the expensive
    kernel, and Spark's THRESHOLDED ``levenshtein(a, b, k)`` banded DP
    costs O(len·k) instead of O(len²) and early-exits to −1 past the
    bound — the kept pairs' distances are identical to the full DP's,
    so the DuckDB oracle stays the plain two-arg form.
    """
    docs = load_table(spark, sf_dir, "documents")
    # candidates from the S21 band store — documents.parquet is read
    # once here, for the verify stage's prefixes only (no query-time
    # signature pass)
    cand = minhash_candidate_pairs_stored(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    pref = docs.select(
        "doc_id", F.substring("text", 1, _ED_PREFIX).alias("pref")
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("pref").alias("pa")
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("pref").alias("pb")
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(
            F.abs(F.length("pa") - F.length("pb")) <= F.lit(_ED_MAX)
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb", _ED_MAX)
            .cast("long")
            .alias("edit_distance"),
        )
        .filter(F.col("edit_distance") >= 0)
    )


@register(
    "llm_ngram_novelty",
    oracle=rf"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest({_sql_word_ngrams("t")}) AS s FROM toked)
    ),
    ref AS (
      SELECT DISTINCT s FROM grams
      WHERE doc_id % {_DECON_MOD} = {_DECON_REM}
    ),
    new AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END) AS n_novel
      FROM grams g LEFT JOIN ref r ON r.s = g.s
      WHERE g.doc_id % {_DECON_MOD} <> {_DECON_REM}
      GROUP BY g.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel AS DOUBLE) / n_grams AS novelty
    FROM new
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: n-gram NOVELTY score — per document, the fraction of its
    distinct word 3-grams absent from a reference corpus (here the
    deterministic ``doc_id % _DECON_MOD`` slice the decontamination
    family already uses as its benchmark stand-in). The
    dual of decontamination: decon DROPS overlap, novelty SCORES it —
    the signal a curation pipeline uses to prefer documents that add
    new content rather than re-paraphrase the reference.

    Scale shape: one corpus tokenize+shingle explode serves both sides;
    the membership probe is a gram-keyed LEFT join (sort-merge at
    corpus scale — the reference side is corpus-proportional, so no
    broadcast), aggregated back to doc grain in the same shuffle
    pipeline. Counts are integers; the ratio is one double division.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    grams = toked.select(
        "doc_id", F.explode_outer(_word_ngrams(F.col("t"))).alias("s")
    ).filter(F.col("s").isNotNull()).distinct()
    is_ref = (F.col("doc_id") % _DECON_MOD) == _DECON_REM
    ref = grams.filter(is_ref).select("s").distinct()
    return (
        grams.filter(~is_ref)
        .join(ref.withColumn("hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("hit").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams")).alias(
                "novelty"
            ),
        )
    )


@register(
    "llm_semdedup_representatives",
    oracle=rf"""
    WITH {_SQL_KMEANS}
    SELECT vec_id,
           CAST(cluster AS INTEGER) AS cluster,
           CAST(dist AS BIGINT) AS dist_fp2,
           (ROW_NUMBER() OVER (PARTITION BY cluster
                               ORDER BY dist, vec_id) = 1)
             AS is_representative
    FROM assign{_KM_ITERS}
    """,
)
def llm_semdedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-EXT (SemDeDup shape): SEMANTIC dedup — cluster the embedding
    space (the shared exact-parity Lloyd k-means, ``_km_state``), then
    mark ONE representative per semantic cluster: the member closest to
    its centroid (tie-break vec_id). Keeping only representatives is
    the aggressive semantic-dedup policy; the emitted per-member
    distances let a pipeline pick any softer radius instead.

    Scale shape: everything up to assignment is k-means' own cost
    (persisted exploded coords, broadcast centroids, one vec-keyed
    shuffle); the representative pick is a K-partition window over the
    assignment relation — rank within cluster by exact int64 distance,
    deterministic on both engines.
    """
    _, _, _, assign = _km_state(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy("dist", "vec_id")
    return (
        assign.withColumn("rn", F.row_number().over(w))
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("dist").cast("long").alias("dist_fp2"),
            (F.col("rn") == 1).alias("is_representative"),
        )
    )


@register(
    "llm_mode_token_by_lang",
    oracle=rf"""
    WITH tc AS (
      SELECT lang, term, COUNT(*) AS cnt
      FROM (
        SELECT lang, unnest({_SQL_TOKENS}) AS term FROM documents
      )
      GROUP BY lang, term
    )
    SELECT lang, term AS top_token,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY lang)
             AS share
    FROM tc
    QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY cnt DESC, term DESC) = 1
    """,
)
def llm_mode_token_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: per-language MODE — the most frequent token per language
    with its corpus share (tie-break: lexicographically LARGEST token,
    so the struct-max pick and the oracle's ORDER BY agree exactly).

    Scale shape: the Spark side never runs the oracle's window — after
    the (lang, term) count aggregate, the mode IS ``max(struct(cnt,
    term))`` inside a second tiny aggregate that also sums the language
    total. Spark plans that as a SortAggregate (struct buffers are
    immutable), but the sort is partition-local over the already-
    aggregated vocabulary relation — no window, no global sort, and
    the corpus itself is touched exactly once.
    """
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("lang", F.explode(_tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        tc.groupBy("lang")
        .agg(
            F.sum("cnt").alias("total"),
            F.max(F.struct("cnt", "term")).alias("m"),
        )
        .select(
            "lang",
            F.col("m.term").alias("top_token"),
            F.col("m.cnt").cast("long").alias("cnt"),
            (F.col("m.cnt").cast("double") / F.col("total")).alias("share"),
        )
    )


@register(
    "llm_readability_scores",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS n_sentences,
             greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
               AS n_syllables
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
             AS flesch
    FROM f
    """,
)
def llm_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: READABILITY scoring (Flesch reading ease with the
    standard regex approximations: sentences = punctuation runs,
    syllables = vowel groups) — a quality-filter signal complementing
    the Gopher rules: too-low readability flags OCR garbage and
    boilerplate, too-high flags word-salad.

    All three counts are integer regex counts (identical engines-side);
    the score is raw per-row double arithmetic sharing the published
    constants — no aggregation, so nothing is order-dependent. Pure
    map-side at any scale: codegen regex over the scan, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(_tokens())
    n_sent = F.greatest(
        F.lit(1), F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)"))
    )
    n_syl = F.greatest(
        F.lit(1),
        F.size(F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
    )
    f = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
    )
    return f.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - F.lit(84.6)
            * (F.col("n_syllables").cast("double") / F.col("n_words"))
        ).alias("flesch"),
    )


#: Zipf fit: regress ln(count) on ln(rank) over the top _ZIPF_N terms.
_ZIPF_N = 100


@register(
    "llm_zipf_slope_report",
    oracle=rf"""
    WITH tc AS (
      SELECT term, COUNT(*) AS cnt
      FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
      GROUP BY term
    ),
    top AS (
      SELECT term, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank
      FROM tc
      QUALIFY rank <= {_ZIPF_N}
    ),
    xy AS (
      SELECT CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,12)) AS x,
             CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(18,12)) AS y
      FROM top
    ),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope
    FROM s
    """,
)
def llm_zipf_slope_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: ZIPF-LAW fit — least-squares slope of ln(frequency) vs
    ln(rank) over the top ``_ZIPF_N`` corpus terms. Natural text sits
    near −1; a corpus drifting toward 0 (too uniform: boilerplate/spam
    floods) or below −1.5 (vocabulary collapse: dedup gone wrong) fails
    the health check — the report a pipeline computes after every major
    filter step.

    Cross-engine exactness for a regression over FLOATS: the ln values
    (libm on both sides — the ``_ln_libm`` precedent) are quantized to
    DECIMAL(18,12) and every regression moment is an exact decimal sum
    of exact decimal products — order-independent — with ONE double
    division at the end. Scale shape: vocabulary aggregate, top-k via
    TakeOrdered (O(vocab·log k), no global sort), then a 100-row
    regression — driver never sees data.
    """
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(_ZIPF_N)
    )
    w = Window.orderBy(F.desc("cnt"), "term")
    ln = _ln_libm()
    xy = (
        tc.withColumn("rank", F.row_number().over(w))
        .select(
            ln(F.col("rank").cast("double")).cast("decimal(18,12)").alias("x"),
            ln(F.col("cnt").cast("double")).cast("decimal(18,12)").alias("y"),
        )
    )
    # Each regression moment is an EXACT decimal sum cast to double
    # BEFORE the slope arithmetic: multiplying the decimal sums first
    # would exceed decimal(38) and let Spark silently truncate scale
    # (allowPrecisionLoss), which de-syncs the last bits vs DuckDB's
    # 128-bit decimals. Exact-sum → double → double arithmetic is
    # engine-identical.
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        (num / den).alias("zipf_slope"),
    )


#: Distributed BPE trainer: number of merge iterations to learn.
_BPE_MERGES = 3


def _sql_bpe_iteration(i: int) -> str:
    """One unrolled BPE merge iteration (DuckDB): count adjacent symbol
    pairs weighted by word frequency, pick the global top pair
    (tie-break lexicographic), then apply the greedy left-to-right
    merge via the islands trick — within each maximal run of
    consecutive merge candidates, the odd-offset positions merge (for
    a non-self-overlapping pair candidates are never adjacent, so this
    IS greedy left-to-right; for a self pair like (x,x) it merges
    positions 1-2, 3-4, ... exactly as greedy does)."""
    prev = f"v{i - 1}"
    return f"""
    it{i}_pairs AS (
      SELECT p1, p2, SUM(cnt) AS pc FROM (
        SELECT cnt, syms[j] AS p1, syms[j+1] AS p2
        FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS j
              FROM {prev})
      ) GROUP BY 1, 2
    ),
    it{i}_top AS (
      SELECT p1, p2, pc FROM it{i}_pairs ORDER BY pc DESC, p1, p2 LIMIT 1
    ),
    it{i}_pos AS (
      SELECT word, cnt, j AS pos, syms[j] AS sym
      FROM (SELECT word, cnt, syms, unnest(range(1, len(syms)+1)) AS j
            FROM {prev})
    ),
    it{i}_cand AS (
      SELECT p.word, p.cnt, p.pos, p.sym, t.p1, t.p2,
             COALESCE(p.sym = t.p1
                      AND lead(p.sym) OVER (PARTITION BY p.word
                                            ORDER BY p.pos) = t.p2,
                      FALSE) AS cand
      FROM it{i}_pos p LEFT JOIN it{i}_top t ON TRUE
    ),
    it{i}_isl AS (
      SELECT *, CASE WHEN cand THEN pos - ROW_NUMBER() OVER
               (PARTITION BY word, cand ORDER BY pos) END AS isl
      FROM it{i}_cand
    ),
    it{i}_sel AS (
      SELECT *, CASE WHEN cand THEN (ROW_NUMBER() OVER
               (PARTITION BY word, isl ORDER BY pos) % 2 = 1)
               ELSE FALSE END AS sel
      FROM it{i}_isl
    ),
    it{i}_keep AS (
      SELECT word, cnt, pos,
             CASE WHEN sel THEN p1 || p2 ELSE sym END AS sym,
             COALESCE(lag(sel) OVER (PARTITION BY word ORDER BY pos),
                      FALSE) AS prev_sel
      FROM it{i}_sel
    ),
    v{i} AS (
      SELECT word, cnt, list(sym ORDER BY pos) AS syms
      FROM it{i}_keep WHERE NOT prev_sel GROUP BY word, cnt
    )"""


def _bpe_state(spark: SparkSession, sf_dir: str, merges: int = _BPE_MERGES):
    """Shared BPE trainer driver: returns ``(merge_rows, v)`` — the
    per-iteration 1-row merge relations and the FINAL segmented
    vocabulary (word, cnt, syms) after ``merges`` iterations. See
    ``llm_bpe_train_merges`` for the algorithm and scale shape. Each
    call trains afresh, so every query run pays its own trainer."""
    docs = load_table(spark, sf_dir, "documents")
    v = (
        docs.select(F.explode(_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "word",
            "cnt",
            F.expr("regexp_extract_all(word, '.', 0)").alias("syms"),
        )
    )
    merge_rows = []
    for i in range(1, merges + 1):
        pairs = (
            v.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms)-2), "
                        "j -> struct(syms[j] AS p1, syms[j+1] AS p2))"
                    )
                ).alias("pr"),
            )
            .groupBy(
                F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2")
            )
            .agg(F.sum("cnt").alias("pc"))
        )
        top = pin(
            pairs.orderBy(F.desc("pc"), "p1", "p2")
            .limit(1)
        )
        merge_rows.append(
            top.select(
                F.lit(i).alias("iteration"),
                F.col("p1").alias("left_sym"),
                F.col("p2").alias("right_sym"),
                F.concat("p1", "p2").alias("merged"),
                F.col("pc").cast("long").alias("pair_count"),
            )
        )
        wv = Window.partitionBy("word").orderBy("pos")
        pos = v.select(
            "word", "cnt", F.posexplode("syms").alias("pos0", "sym")
        ).select("word", "cnt", (F.col("pos0") + 1).alias("pos"), "sym")
        # LEFT join on a constant key, not a crossJoin: when the corpus
        # has run out of pairs the argmax relation is EMPTY, and a
        # cross join would annihilate the vocabulary — with the left
        # join p1/p2 are null, every candidate flag coalesces to false,
        # and the vocabulary passes through unchanged.
        c = (
            pos.withColumn("_k", F.lit(1))
            .join(
                F.broadcast(top.withColumn("_k", F.lit(1))), "_k", "left"
            )
            .drop("_k")
            .withColumn(
                "cand",
                F.coalesce(
                    (F.col("sym") == F.col("p1"))
                    & (F.lead("sym").over(wv) == F.col("p2")),
                    F.lit(False),
                ),
            )
            .withColumn(
                "isl",
                F.when(
                    F.col("cand"),
                    F.col("pos")
                    - F.row_number().over(
                        Window.partitionBy("word", "cand").orderBy("pos")
                    ),
                ),
            )
            .withColumn(
                "sel",
                F.when(
                    F.col("cand"),
                    F.row_number().over(
                        Window.partitionBy("word", "isl").orderBy("pos")
                    )
                    % 2
                    == 1,
                ).otherwise(F.lit(False)),
            )
            .withColumn(
                "prev_sel", F.coalesce(F.lag("sel").over(wv), F.lit(False))
            )
        )
        kept = c.filter(~F.col("prev_sel")).select(
            "word",
            "cnt",
            "pos",
            F.when(F.col("sel"), F.concat("p1", "p2"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        v = pin(
            kept.groupBy("word", "cnt")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))).alias(
                    "ps"
                )
            )
            .select(
                "word",
                "cnt",
                F.expr("transform(ps, x -> x.sym)").alias("syms"),
            )
        )
    return merge_rows, v


#: ``v0(word, cnt, syms)``, the word vocabulary split into characters,
#: then every unrolled merge iteration.
_SQL_BPE_MERGES = rf"""v0 AS (
      SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS cnt,
             regexp_extract_all(term, '.') AS syms
      FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
      GROUP BY term
    ),{",".join(_sql_bpe_iteration(i) for i in range(1, _BPE_MERGES + 1))}"""


@register(
    "llm_bpe_train_merges",
    oracle=rf"""
    WITH {_SQL_BPE_MERGES}
    {" UNION ALL ".join(
        f"SELECT {i} AS iteration, p1 AS left_sym, p2 AS right_sym, "
        f"p1 || p2 AS merged, CAST(pc AS BIGINT) AS pair_count "
        f"FROM it{i}_top"
        for i in range(1, _BPE_MERGES + 1)
    )}
    """,
)
def llm_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-EXT: distributed BPE TOKENIZER TRAINING — learn the first
    ``_BPE_MERGES`` byte-pair merges of the corpus (Sennrich et al.
    2016), oracle-verified: each iteration counts adjacent symbol pairs
    weighted by word frequency, merges the global argmax pair
    (tie-break lexicographic) greedily left-to-right inside every word,
    and emits the learned merge table.

    The trainer's textbook scale trick: the corpus is scanned ONCE to
    build the (word, count) VOCABULARY, and every merge iteration works
    on that O(vocab) relation — never the corpus. Greedy left-to-right
    application distributes via the ISLANDS scheme: a position merges
    iff it heads an odd offset within its maximal run of consecutive
    candidates (runs longer than 1 only occur for self-pairs (x,x),
    where odd-offsets reproduce greedy exactly) — two window passes
    over word-partitioned symbol rows, no sequential state. Per
    iteration: one pair hash-agg + a 1-row broadcast argmax + windows
    keyed on the word column; the vocabulary relation is pinned
    between iterations so the plan stays flat
    (the k-means `_km_state` discipline). Oracle iterations are
    GENERATED from the same ``_BPE_MERGES`` constant, so plan and
    oracle cannot desynchronize.
    """
    merge_rows, _ = _bpe_state(spark, sf_dir)
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


#: Segmentation report size for the BPE vocabulary view.
_BPE_SEG_TOPN = 50


@register(
    "llm_bpe_segment_vocab",
    oracle=rf"""
    WITH {_SQL_BPE_MERGES}
    SELECT word, cnt,
           CAST(len(syms) AS BIGINT) AS n_syms,
           array_to_string(syms, ' ') AS segmentation
    FROM v{_BPE_MERGES}
    ORDER BY cnt DESC, word
    LIMIT {_BPE_SEG_TOPN}
    """,
)
def llm_bpe_segment_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-EXT companion of the BPE trainer: the SEGMENTED vocabulary —
    how the learned merges actually tokenize the top corpus words
    (the view a tokenizer engineer inspects before accepting a merge
    table). Reuses ``_bpe_state`` verbatim, so the Spark segmentation
    and the oracle's generated iteration CTEs derive from the same
    ``_BPE_MERGES`` constant and can never drift.
    """
    _, v = _bpe_state(spark, sf_dir)
    return (
        v.select(
            "word",
            "cnt",
            F.size("syms").cast("long").alias("n_syms"),
            F.array_join("syms", " ").alias("segmentation"),
        )
        .orderBy(F.desc("cnt"), "word")
        .limit(_BPE_SEG_TOPN)
    )


@register(
    "llm_langid_confusion_matrix",
    oracle=rf"""
    WITH pred AS (
      SELECT doc_id, lang AS labeled_lang,
             CASE
               WHEN {_sql_hits('en')} = 0 AND {_sql_hits('de')} = 0
                AND {_sql_hits('fr')} = 0 AND {_sql_hits('es')} = 0
                 THEN 'unknown'
               WHEN {_sql_hits('en')} >= {_sql_hits('de')}
                AND {_sql_hits('en')} >= {_sql_hits('fr')}
                AND {_sql_hits('en')} >= {_sql_hits('es')} THEN 'en'
               WHEN {_sql_hits('de')} >= {_sql_hits('fr')}
                AND {_sql_hits('de')} >= {_sql_hits('es')} THEN 'de'
               WHEN {_sql_hits('fr')} >= {_sql_hits('es')} THEN 'fr'
               ELSE 'es'
             END AS predicted_lang
      FROM (SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents)
    )
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY labeled_lang) AS row_share,
           (labeled_lang = predicted_lang) AS is_correct
    FROM pred
    GROUP BY labeled_lang, predicted_lang
    """,
)
def llm_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 companion: the CONFUSION MATRIX of the stopword language-ID
    heuristic against the labeled ``lang`` column — per (labeled,
    predicted) cell counts with row-normalized shares. The accuracy
    audit any pipeline runs before trusting a cheap classifier to
    route per-language processing.

    Scale shape: the per-row classifier is pure array expressions in
    the scan stage; the matrix is ONE hash agg on a ≤ (langs+1)² key
    space, and the row-share window runs over that constant-size
    aggregate, never over documents.
    """
    pred = llm_langid_stopword(spark, sf_dir).select(
        "labeled_lang", "predicted_lang"
    )
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wrow = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        F.col("cnt").cast("long").alias("n"),
        (F.col("cnt").cast("double") / F.sum("cnt").over(wrow)).alias(
            "row_share"
        ),
        (F.col("labeled_lang") == F.col("predicted_lang")).alias(
            "is_correct"
        ),
    )


#: PageRank on the LSH candidate graph: unrolled iterations and the
#: damping factor as exact integer fixed-point (micro-units). The
#: base/damp constants drive BOTH the Spark loop and the generated
#: oracle CTEs, so retuning the damping cannot desynchronize them.
_PR_ITERS = 3
_PR_BASE = 150_000      # (1 − d) in micro-units
_PR_DAMP = 85           # d numerator over _PR_DEN
_PR_DEN = 100


def _sql_pr_iteration(i: int) -> str:
    """One unrolled PageRank iteration (DuckDB): every node sends
    rank//degree along each edge; rank' = 0.15 + 0.85·Σin, all in
    integer micro-units with floor division so both engines agree to
    the last bit."""
    return f"""
    pr{i} AS (
      SELECT n.doc_id, n.deg,
             {_PR_BASE} + (s.acc * {_PR_DAMP}) // {_PR_DEN} AS rank_fp
      FROM nodes n JOIN (
        SELECT e.dst AS doc_id, SUM(p.rank_fp // p.deg) AS acc
        FROM edges e JOIN pr{i - 1} p ON p.doc_id = e.src
        GROUP BY e.dst
      ) s ON s.doc_id = n.doc_id
    )"""


@register(
    "llm_pagerank_candidates",
    oracle=rf"""
    WITH sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    nodes AS (
      SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY src
    ),
    pr0 AS (
      SELECT doc_id, deg, CAST(1000000 AS BIGINT) AS rank_fp FROM nodes
    ),
    {",".join(_sql_pr_iteration(i) for i in range(1, _PR_ITERS + 1))}
    SELECT doc_id,
           CAST(deg AS BIGINT) AS degree,
           CAST(rank_fp AS BIGINT) AS rank_fp
    FROM pr{_PR_ITERS}
    """,
)
def llm_pagerank_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-EXT: PAGERANK over the LSH candidate graph — centrality
    separates boilerplate HUBS (templates many docs echo — high rank)
    from peripheral one-off near-dups, the signal that decides "strip
    the template" vs "drop the copy" where J17's triangle counts see
    only local cliques.

    Cross-engine exactness for an ITERATIVE float algorithm: ranks are
    integer micro-units, every per-edge contribution is floor division
    by degree, and damping is ×85//100 — no float ever enters, so both
    engines agree to the last bit (the k-means fixed-point discipline
    applied to graph iteration). Scale shape: edges come from the SAME
    bucket-capped candidate generator as the dedup family (degree
    bounded by the cap); each iteration is one src-keyed equi-join +
    one dst-keyed hash agg on the O(nodes) rank relation, which is
    pinned between iterations so the plan stays flat at any iteration
    count. Oracle iterations are GENERATED from ``_PR_ITERS``.
    """
    # candidate edges from the S21 band store (round 11): the whole
    # query never touches documents.parquet
    cand = minhash_candidate_pairs_stored(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    # Edge reuse across _PR_ITERS+1 consumers rides an eager
    # checkpoint, NOT persist (r9, closing the r8 perf watch): the
    # r8 leak fix paired persist with a final extra eager checkpoint of
    # the rank relation purely so the cache could be unpersisted safely
    # — one whole extra materialization per invocation (+26% local).
    # Checkpoint storage needs no manual release (ContextCleaner
    # reclaims it when the plan is GC'd — the same lifecycle as the
    # in-loop rank checkpoints), so the final iteration can stay lazy
    # and run exactly once, at the caller's action.
    edges = pin(
        cand.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionAll(
            cand.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    nodes = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    pr = nodes.withColumn("rank_fp", F.lit(1_000_000).cast("long"))
    for i in range(_PR_ITERS):
        acc = (
            edges.join(
                pr.select(
                    F.col("doc_id").alias("src"),
                    F.expr("rank_fp div deg").alias("contrib"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("contrib").alias("acc"))
        )
        pr = (
            nodes.join(acc, "doc_id")
            .select(
                "doc_id",
                "deg",
                (
                    F.lit(_PR_BASE)
                    + F.expr(f"(acc * {_PR_DAMP}) div {_PR_DEN}")
                )
                .cast("long")
                .alias("rank_fp"),
            )
        )
        if i < _PR_ITERS - 1:
            pr = pin(pr)
    return pr.select(
        "doc_id",
        F.col("deg").alias("degree"),
        "rank_fp",
    )


@register(
    "llm_bpe_encode_stats",
    oracle=rf"""
    WITH {_SQL_BPE_MERGES},
    seg AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_syms
      FROM v{_BPE_MERGES}
    ),
    dw AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS word FROM documents
    )
    SELECT dw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(seg.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(seg.n_syms) AS DOUBLE) / COUNT(*)
             AS tokens_per_word
    FROM dw JOIN seg ON seg.word = dw.word
    GROUP BY dw.doc_id
    """,
)
def llm_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-EXT: ENCODE the corpus with the learned BPE merges — per-doc
    BPE token counts and tokens-per-word fertility, the number that
    prices a training run (token budget) and evaluates a merge table
    (lower fertility = better compression). Completes the tokenizer
    family: train (U9) → inspect (U10) → encode (this).

    The encode is a JOIN, not a re-segmentation: every corpus word is
    in the trained vocabulary by construction, so per-doc token counts
    are one (doc, word) explode equi-joined to the O(vocab) segmented
    relation and rolled up — no per-document merge loop ever runs.
    At 100 TB the vocab side broadcasts while small and sort-merges
    past the threshold (no hint; AQE decides).
    """
    _, v = _bpe_state(spark, sf_dir)
    seg = v.select("word", F.size("syms").cast("long").alias("n_syms"))
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select("doc_id", F.explode(_tokens()).alias("word"))
    return (
        dw.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
            (
                F.sum("n_syms").cast("double") / F.count(F.lit(1))
            ).alias("tokens_per_word"),
        )
    )


#: IVF-PQ: number of inverted-file cells the query probes.
_IVFPQ_NPROBE = 2


@register(
    "llm_ivfpq_topk",
    oracle=f"""
    WITH {_SQL_CELL_CENTROIDS},
    {_SQL_NEAREST_CELL},
    probe AS (
      SELECT cell FROM dist
      WHERE vec_id = {_QUERY_VEC_ID}
      QUALIFY ROW_NUMBER() OVER (ORDER BY d2, cell) <= {_IVFPQ_NPROBE}
    ),
    subdist AS (
      SELECT s.vec_id, cq.cell, (cq.d - 1) // {_PQ_SUB} AS m,
             SUM((s.sv[cq.d] - cq.c) * (s.sv[cq.d] - cq.c)) AS d2
      FROM s, cq
      GROUP BY s.vec_id, cq.cell, (cq.d - 1) // {_PQ_SUB}
    ),
    code AS (
      SELECT vec_id, m, cell FROM (
        SELECT vec_id, m, cell,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id, m ORDER BY d2, cell
               ) AS rn
        FROM subdist
      ) WHERE rn = 1
    ),
    qd AS (
      SELECT cell, m, d2 FROM subdist WHERE vec_id = {_QUERY_VEC_ID}
    )
    SELECT vec_id, cell,
           CAST(approx_d2 AS BIGINT) AS approx_d2
    FROM (
      SELECT c.vec_id, b.cell,
             SUM(qd.d2) AS approx_d2
      FROM code c
      JOIN best b ON b.vec_id = c.vec_id
      JOIN probe p ON p.cell = b.cell
      JOIN qd ON c.cell = qd.cell AND c.m = qd.m
      WHERE c.vec_id != {_QUERY_VEC_ID}
      GROUP BY c.vec_id, b.cell
    )
    ORDER BY approx_d2, vec_id
    LIMIT 10
    """,
)
def llm_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21/J6 EXT: IVF-PQ — the production FAISS layout, composing the
    engine's two ANN stages: the inverted file prunes the corpus to the
    query's ``_IVFPQ_NPROBE`` nearest cells (coarse quantizer =
    the quantized per-label centroids), then PRODUCT-QUANTIZATION
    asymmetric distance ranks only those candidates. At 100 TB the
    cell is a write-time partition key (a probe touches nprobe/k of
    the corpus) and the candidates are scanned as ~8-byte codes, not
    256-byte vectors — pruning × compression is exactly why this
    layout is the industry default.

    Exactness: the coarse assignment, probe-set pick, sub-codes and
    every ADC sum are the same exact int64 fixed-point arithmetic as
    the IVF and PQ operators they compose (both oracle-verified on
    their own); tie-breaks are integer struct-mins.

    Scale shape: cell table broadcasts as one packed row; assignment
    and encoding are pure map stages; the probe filter is an
    array_contains against the 1-row query relation, so the only
    shuffled relation is the already-pruned candidate set en route to
    the TakeOrderedAndProject cut.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sv = _scaled(emb)
    # 1 packed row, but its build is a full corpus posexplode+agg and
    # it is embedded in two DIFFERENT broadcast subtrees (the query row
    # and the corpus assignment) — materialize once.
    cells = pin(_packed_cells(ivf_quantized_cells(emb)))
    q = (
        sv.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .crossJoin(F.broadcast(cells))
        .select(
            F.col("sv").alias("qv"),
            "cells",
            _probe_cells(F.col("sv")).alias("probe_cells"),
        )
    )
    assigned = (
        sv.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "sv",
            "qv",
            "cells",
            "probe_cells",
            _nearest_cell(F.col("sv")).alias("cell"),
        )
    )
    cand = assigned.filter(
        F.array_contains(F.col("probe_cells"), F.col("cell"))
    ).select(
        "vec_id",
        "cell",
        "qv",
        "cells",
        *[_pq_code_m(F.col("sv"), m).alias(f"c{m}") for m in range(_PQ_M)],
    )
    approx = None
    for m in range(_PQ_M):
        t = _pq_qdist(f"c{m}", m)
        approx = t if approx is None else approx + t
    return (
        cand.select(
            "vec_id",
            "cell",
            approx.cast("long").alias("approx_d2"),
        )
        .orderBy("approx_d2", "vec_id")
        .limit(10)
    )


#: Encoder-arithmetic version for the persisted PQ store. The written
#: codes bake in the WHOLE encode pipeline — the fixed-point scale,
#: the centroid floor rule, the subspace geometry. BUMP THIS whenever
#: any of `_iscale` / `ivf_quantized_cells` / `_pq_code_m` semantics
#: change: the store survives across sessions, so without the bump a
#: code change would silently serve codes written under the OLD
#: arithmetic while the query side computes with the new one. v2: both
#: tables carry a ``_BUCKET_SPEC`` schema file and are read with it.
_PQ_CODEC_VERSION = 2


def _pq_store_path(sf_dir: str, n_vectors: int) -> str:
    """IVF-PQ store key: the vector count and the encoder
    geometry/version on top of the embeddings fingerprint."""
    return store_path(
        "pq_store",
        sf_dir,
        ("embeddings",),
        f"{n_vectors}_v{_PQ_CODEC_VERSION}m{_PQ_M}s{_PQ_SUB}",
    )


@register("llm_ivfpq_encoded_topk", oracle=QUERIES["llm_ivfpq_topk"].oracle)
def llm_ivfpq_encoded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F38b production layout (r8 VERDICT item #5): IVF-PQ over the
    WRITE-TIME-ENCODED store — ``write_pq_encoded`` runs the
    corpus-linear assign+encode pass once at ingest (codes parquet
    partitioned by coarse cell + the K-row cell table), and the query
    path reads ONLY the probed cells' code partitions:
    ``PartitionFilters`` prune unprobed cell directories at the scan
    (asserted in tests/test_pq_store.py), each scanned row is
    ``_PQ_M`` small ints, and no per-row encode expression appears in
    the query plan. This is the llm_ivfpq_topk probe finding made
    structural: the 100× probe showed query-time encoding is 20× at
    100× data; here that cost is paid once, at write.

    The probe-cell pick is the coordinator's planning step (FAISS
    semantics): K cell distances on the broadcast cell table, nprobe
    ids collected driver-side — a bounded ``_IVFPQ_NPROBE``-element
    action, the partition-pruning twin of the allowlisted 1-row
    broadcasts — then pushed as a LITERAL partition predicate so
    pruning is static, not runtime. The store is built on first use
    per (sf_dir, corpus size) and reused (bench reps after the first
    measure the pure read path).

    Exactness: identical int64 fixed-point arithmetic end-to-end, so
    the oracle is llm_ivfpq_topk's UNCHANGED — write-time encoding is
    a physical-layout change, not a semantic one.
    """
    from ..sources.pq_store import read_pq_cells, read_pq_codes, write_pq_encoded

    emb = load_table(spark, sf_dir, "embeddings")
    store = ensure_store(
        _pq_store_path(sf_dir, emb.count()),
        lambda tmp: write_pq_encoded(emb, tmp),
    )

    packed = _packed_cells(read_pq_cells(spark, store))
    q = pin(
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(
            F.transform("embedding", lambda x: _iscale(x)).alias("qv")
        )
        .crossJoin(F.broadcast(packed))
        .select("qv", "cells", _probe_cells(F.col("qv")).alias("probe_cells"))
    )
    probe_cells = [
        r["c"] for r in q.select(F.explode("probe_cells").alias("c")).collect()
    ]
    codes = (
        read_pq_codes(spark, store)
        .filter(F.col("cell").isin(probe_cells))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
    )
    cand = codes.crossJoin(F.broadcast(q.select("qv", "cells")))
    approx = None
    for m in range(_PQ_M):
        t = _pq_qdist(f"c{m}", m)
        approx = t if approx is None else approx + t
    return (
        cand.select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            approx.cast("long").alias("approx_d2"),
        )
        .orderBy("approx_d2", "vec_id")
        .limit(10)
    )


#: Band-store codec version: the stored bands bake in the WHOLE
#: signature pipeline — tokenizer, shingle width, `_N_HASHES` seeds,
#: band geometry. BUMP whenever any of `_tokens` / `_word_ngrams` /
#: `minhash_bands` semantics change, for the same reason as
#: `_PQ_CODEC_VERSION`: the store survives across sessions, so
#: without the bump a code change would silently pair against bands
#: written under the OLD pipeline. v2 (round 11): store layout adds
#: the <base>/sigs signature table, moves bands to <base>/bands, and
#: gates reuse on the store-level completeness marker — a layout
#: change, so v1 stores are never half-reused. v3: the sigs files and
#: the band bucket count are sized by bytes, and the count is read
#: back from the bands' ``_BUCKET_SPEC`` — a v2 store (8 buckets, no
#: spec) is rebuilt, never attached under another count. v4: the sigs
#: schema is recorded next to the files and read back with it.
_MINHASH_CODEC_VERSION = 4


def _minhash_store_path(sf_dir: str) -> str:
    """S21 store key: the signature geometry/version on top of the
    documents fingerprint."""
    return store_path(
        "minhash_store",
        sf_dir,
        ("documents",),
        f"v{_MINHASH_CODEC_VERSION}h{_N_HASHES}r{_BAND_ROWS}",
    )


def _ensure_minhash_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Attach-or-build-once gate for the S21 store: returns the
    session catalog table name holding the bucketed bands plus the
    store base path (``<base>/sigs`` holds the signature table).

    Build on FIRST USE per (sf dir, corpus fingerprint, codec
    version): the corpus-wide tokenize→shingle→minhash signature pass
    — the dominant cost of every dedup query at 100 TB — runs once,
    is persisted, and every later query in the family (pairs,
    clustering, representatives, graph lenses, calibration,
    incremental admission, leakage split) reads the store instead.
    Later SESSIONS finding valid files re-ATTACH without rewriting.
    The sigs table is written first and bands are derived from the
    WRITTEN sigs files (one aggregate pass total, and the two tables
    cannot disagree), read back with the writer's schema and bucketed
    by the bytes they take."""
    import os

    from ..sources.bucketing import bucket_count, data_bytes
    from ..sources.minhash_store import (
        attach_minhash_bands,
        read_minhash_sigs,
        write_minhash_bands,
        write_minhash_sigs,
    )

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        toked = tokenized(docs)
        sh = toked.select(
            "doc_id", F.explode(_word_ngrams(F.col("t"))).alias("s")
        )
        sigs, sigs_path = minhash_signatures(sh), os.path.join(tmp, "sigs")
        write_minhash_sigs(sigs, sigs_path)
        stored_sigs = read_minhash_sigs(spark, sigs_path)
        write_minhash_bands(
            bands_from_signatures(stored_sigs),
            os.path.join(tmp, "bands"),
            bucket_count(data_bytes(sigs_path)),
        )

    base = ensure_store(_minhash_store_path(sf_dir), build)
    return attach_minhash_bands(spark, os.path.join(base, "bands")), base


def minhash_bands_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, band_idx, key) banded relation from the S21 store
    (attach-or-build-once): a catalog table bucketed on (band_idx,
    key), so downstream bucket assembly is EXCHANGE-FREE."""
    table, _base = _ensure_minhash_store(spark, sf_dir)
    return spark.table(table)


#: S24 verified-pair store codec: bakes the shingle geometry, the
#: signature/banding geometry (via the S21 key components), the
#: bucket cap, and the exact-Jaccard verify expressions. Bump when
#: any of them changes. v2: the table schema is recorded next to the
#: files and read back with it.
_JACCARD_CODEC_VERSION = 2


def _jaccard_store_path(sf_dir: str) -> str:
    """S24 store key: the S21 key components plus the bucket cap and
    the verify codec version — a regenerated corpus, a re-banded
    geometry or a changed verify can never silently serve stale
    pairs."""
    return store_path(
        "jaccard_store",
        sf_dir,
        ("documents",),
        f"v{_JACCARD_CODEC_VERSION}m{_MINHASH_CODEC_VERSION}"
        f"h{_N_HASHES}r{_BAND_ROWS}c{_LSH_BUCKET_CAP}",
    )


def _ensure_jaccard_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once gate for the S24 verified-pair store: on first use
    per (corpus fingerprint, geometry, codec) the query-time verify
    (``_ngram_jaccard_pairs_compute``) runs once and its result is
    published atomically; every later call — in this session or any
    other — returns the parquet path without touching the corpus."""
    import os

    from ..sources.jaccard_store import write_jaccard_pairs

    base = ensure_store(
        _jaccard_store_path(sf_dir),
        lambda tmp: write_jaccard_pairs(
            _ngram_jaccard_pairs_compute(spark, sf_dir),
            os.path.join(tmp, "pairs"),
        ),
    )
    return os.path.join(base, "pairs")


def _ngram_jaccard_pairs_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, jaccard) from the S24 store — the
    production read path of the exact-Jaccard verify stage: the
    candidate×shingle intersection join runs once per corpus at
    write time, and every audit consumer (threshold sweep,
    cross-source matrix, length bias) is an O(|verified pairs|)
    parquet scan. Bit-identical to the query-time verify by the
    writer contract (tests/test_jaccard_store.py)."""
    from ..sources.jaccard_store import read_jaccard_pairs

    return read_jaccard_pairs(spark, _ensure_jaccard_store(spark, sf_dir))


def minhash_sigs_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, m0..m7) signature relation from the S21 store —
    the Jaccard-estimate verify stage reads this instead of re-running
    the corpus signature aggregate."""
    import os

    from ..sources.minhash_store import read_minhash_sigs

    _table, base = _ensure_minhash_store(spark, sf_dir)
    return read_minhash_sigs(spark, os.path.join(base, "sigs"))


def minhash_candidate_pairs_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_candidate_pairs`` over the S21 store — bit-identical
    pairs (the writer ran the same signature expressions), but the
    candidate stage never touches ``documents.parquet`` and the
    bucket-assembly groupBy is exchange-free. The shared candidate
    generator for the whole dedup graph/verify family."""
    return candidate_pairs_from_bands(minhash_bands_stored(spark, sf_dir))


@register(
    "llm_minhash_lsh_pairs_stored",
    oracle=QUERIES["llm_minhash_lsh_pairs"].oracle,
)
def llm_minhash_lsh_pairs_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 production layout — MinHash-LSH candidate pairs over the
    WRITE-TIME BAND STORE (``sources/minhash_store.py``), the dedup
    twin of ``llm_ivfpq_encoded_topk``: the corpus-wide
    tokenize→shingle→minhash signature pass (the dominant cost of
    every dedup query at 100 TB) runs ONCE at ingest, persisted as a
    catalog table bucketed on (band_idx, key). The read path then

    - never touches ``documents.parquet`` (each stored row is 3 short
      strings, not the text), and
    - assembles buckets with an EXCHANGE-FREE groupBy — the bucketed
      layout pre-paid the shuffle, so the only exchange left in the
      whole query is the final pair-count aggregate on the candidate
      pairs themselves (both pinned in tests/test_minhash_store.py).

    The store is built on first use per (sf dir, corpus fingerprint,
    codec version) and re-ATTACHED — not rewritten — by later
    sessions that find valid files. Exactness: the writer runs the
    same ``minhash_bands`` expressions as the query-time form, so
    this returns bit-identical pairs and reuses
    ``llm_minhash_lsh_pairs``'s oracle unchanged — write-time banding
    is a physical-layout change, not a semantic one.
    """
    return minhash_candidate_pairs_stored(spark, sf_dir)


#: Cluster-store codec version: the stored labels bake in the
#: connected-components algorithm (min-label + star escalation) and
#: the candidate generator's bucket cap — bump when either changes.
#: v2: the table schema is recorded next to the files and read back
#: with it.
_CLUSTER_CODEC_VERSION = 2


def neardup_components_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, cluster_id) near-dup component relation from the CLUSTER
    store (``sources/cluster_store.py``) — built ONCE per (corpus
    fingerprint, signature codec, CC codec) from the S21 band store's
    candidate pairs, then a single parquet scan for every consumer
    (cluster membership, best representative, leakage-aware split).
    The iterative CC solve — driver-looped, pinned per round — runs
    once per corpus per codec instead of once per query."""
    from ..sources.cluster_store import read_cluster_map, write_cluster_map

    def build(tmp: str) -> None:
        pairs = minhash_candidate_pairs_stored(spark, sf_dir).select(
            "doc_a", "doc_b"
        )
        write_cluster_map(connected_components(pairs), tmp)

    base = ensure_store(
        store_path(
            "cluster_store",
            sf_dir,
            ("documents",),
            f"v{_MINHASH_CODEC_VERSION}h{_N_HASHES}r{_BAND_ROWS}"
            f"_cc{_CLUSTER_CODEC_VERSION}c{_LSH_BUCKET_CAP}",
        ),
        build,
    )
    return read_cluster_map(spark, base)


def emb_neardup_components_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc, cluster_id) EMBEDDING near-dup component relation from
    the cluster store — the embedding-space twin of
    ``neardup_components_stored``: hyperplane-LSH bucketing, the
    exact-cosine verify join and the iterative CC solve run once per
    (embeddings fingerprint, plane count, bucket cap, CC codec); every
    later invocation is a single parquet scan. The plane count is part
    of the key because it SELF-SIZES from the corpus row count — a
    grown corpus changes the geometry and must rebuild."""
    from ..sources.cluster_store import read_cluster_map, write_cluster_map

    emb = load_table(spark, sf_dir, "embeddings")
    planes = _planes_at_oracle_floor(
        emb.count(), "llm_embedding_neardup_clusters"
    )

    def build(tmp: str) -> None:
        # the candidate pairs come from the S23 bucket store (round
        # 12): the corpus encode is paid once at ingest and SHARED
        # between the admission lens and this CC build, instead of
        # re-encoding per store build.
        pairs = ann_cosine_pairs_from_rows(
            emb_buckets_stored(spark, sf_dir, planes)
        ).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        write_cluster_map(connected_components(pairs), tmp)

    base = ensure_store(
        store_path(
            "emb_cluster_store",
            sf_dir,
            ("embeddings",),
            f"p{planes}_cc{_CLUSTER_CODEC_VERSION}c{_ANN_BUCKET_CAP}",
        ),
        build,
    )
    return read_cluster_map(spark, base)


#: v2 curation: documents must sit inside this Flesch band (drops both
#: OCR-garbage negatives and word-salad extremes).
_CURATE_FLESCH_LO = 0.0
_CURATE_FLESCH_HI = 80.0


@register(
    "llm_curation_pipeline_v2",
    oracle=rf"""
    WITH {_SQL_TERM_COUNTS},
    {_SQL_GOPHER_KEEP},
    readable AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               206.835
                 - 1.015 * (CAST(w AS DOUBLE) / s)
                 - 84.6 * (CAST(y AS DOUBLE) / w) AS fl
        FROM (
          SELECT doc_id,
                 len({_SQL_TOKENS}) AS w,
                 greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS s,
                 greatest(1, len(regexp_extract_all(lower(text),
                                                    '[aeiouy]+'))) AS y
          FROM documents
        )
      )
      WHERE fl BETWEEN {_CURATE_FLESCH_LO} AND {_CURATE_FLESCH_HI}
    ),
    keyed AS (
      SELECT d.doc_id, lang, source,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS ck,
             len({_SQL_TOKENS}) AS n_tok
      FROM documents d
      JOIN qual USING (doc_id)
      JOIN readable USING (doc_id)
    ),
    {_SQL_CURATION_TAIL}
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM final GROUP BY lang, source
    """,
)
def llm_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F33 v2: the curation pipeline with the round-7 READABILITY stage
    composed in — Gopher rules ∧ Flesch band → exact dedup →
    decontamination → mix-sampling, re-verified END-TO-END by its own
    oracle (stage composition is where silent bugs hide; the v1
    pipeline stays registered as the regression anchor).

    Same scale shape as v1 (``curate_documents``): ONE corpus
    scan+tokenize persisted, every stage an id-set semi/anti join; the
    readability counts ride the same scan as two per-row ints computed
    before the text column drops.
    """
    docs = load_table(spark, sf_dir, "documents")
    kept = curate_documents(
        docs, readability_band=(_CURATE_FLESCH_LO, _CURATE_FLESCH_HI)
    )
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


#: Curriculum: number of difficulty buckets and the epoch seed.
_CURR_BUCKETS = 4
_CURR_SEED = "epoch0"


@register(
    "llm_curriculum_order",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             NTILE({_CURR_BUCKETS}) OVER (ORDER BY n_chars, doc_id)
               AS bucket
      FROM documents
    )
    SELECT doc_id,
           CAST(bucket AS INTEGER) AS bucket,
           CAST(ROW_NUMBER() OVER (
             ORDER BY bucket,
                      md5('{_CURR_SEED}|' || CAST(doc_id AS VARCHAR)),
                      doc_id
           ) AS BIGINT) AS epoch_pos
    FROM ranked
    """,
)
def llm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: CURRICULUM training order — documents ranked into
    ``_CURR_BUCKETS`` difficulty buckets (length as the canonical
    easy→hard proxy; deterministic NTILE with doc_id tie-break), then
    seeded-shuffled WITHIN each bucket: the easy→hard schedule with
    stable randomness inside stages, composing with F31's
    shard-assignment the way its docstring prescribes.

    Scale shape note (honest): the bucket NTILE and the epoch position
    are GLOBAL total orders — fine for eval-scale corpora; at 100 TB
    the same semantics shard first (F31) and apply this order within
    shards, exactly like the training-order family documents. The
    oracle checks the semantics at the global grain.
    """
    docs = load_table(spark, sf_dir, "documents")
    w_diff = Window.orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id",
        F.ntile(_CURR_BUCKETS).over(w_diff).cast("int").alias("bucket"),
    )
    shuffle_key = F.md5(
        F.concat(F.lit(f"{_CURR_SEED}|"), F.col("doc_id").cast("string"))
    )
    w_epoch = Window.orderBy("bucket", shuffle_key, "doc_id")
    return ranked.select(
        "doc_id",
        "bucket",
        F.row_number().over(w_epoch).cast("long").alias("epoch_pos"),
    )


#: Incremental near-dup admission: the batch slice of the corpus
#: (deterministic, disjoint from _DECON_REM's benchmark slice).
_INC_ND_MOD, _INC_ND_REM = 10, 3


@register(
    "llm_incremental_neardup",
    oracle=rf"""
    WITH sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    corpus AS (
      SELECT * FROM bands WHERE doc_id % {_INC_ND_MOD} <> {_INC_ND_REM}
    ),
    ok_buckets AS (
      SELECT band_idx, key FROM corpus
      GROUP BY band_idx, key
      HAVING COUNT(*) <= {_LSH_BUCKET_CAP}
    ),
    batch AS (
      SELECT * FROM bands WHERE doc_id % {_INC_ND_MOD} = {_INC_ND_REM}
    ),
    hits AS (
      SELECT b.doc_id, COUNT(DISTINCT c.doc_id) AS n_corpus_neighbors
      FROM batch b
      JOIN ok_buckets ob ON ob.band_idx = b.band_idx AND ob.key = b.key
      JOIN corpus c ON c.band_idx = b.band_idx AND c.key = b.key
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_corpus_neighbors, 0) AS BIGINT)
             AS n_corpus_neighbors,
           (h.doc_id IS NULL) AS admitted
    FROM (SELECT DISTINCT doc_id FROM batch) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
)
def llm_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 EXT: INCREMENTAL NEAR-DUP admission — the LSH complement of
    ``llm_incremental_dedup``: an incoming batch is admitted only where
    its MinHash bands collide with NO standing-corpus document
    (continuous ingest must reject paraphrases and near-copies, not
    just byte-identical ones). Emits the per-batch-doc decision with
    its corpus-neighbor count, so a softer policy (admit if < k
    neighbors) reads the same relation.

    Scale shape: bands come from the S21 band store (round 11 — "the
    corpus bands are a standing indexed table" is now literal: the
    store IS that table, bucketed on (band_idx, key) so the admission
    probe's equi-join and the bucket-size guard are both exchange-free
    on the corpus side). Corpus MEGA-BUCKETS are dropped by the same
    ``_LSH_BUCKET_CAP`` guard as the pair family — a stop-word-like
    band key (every doc collides) would otherwise fan each batch doc
    out corpus-wide. In production only the batch side is computed per
    run; here the batch slice reads the same store.
    """
    bands = minhash_bands_stored(spark, sf_dir)
    is_batch = (F.col("doc_id") % _INC_ND_MOD) == _INC_ND_REM
    corpus = bands.filter(~is_batch)
    batch = bands.filter(is_batch)
    ok_buckets = _capped_buckets(corpus, ["band_idx", "key"], _LSH_BUCKET_CAP)
    hits = (
        batch.join(ok_buckets, ["band_idx", "key"])
        .join(
            corpus.select(
                "band_idx", "key", F.col("doc_id").alias("corpus_doc")
            ),
            ["band_idx", "key"],
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("corpus_doc").alias("n_corpus_neighbors")
        )
    )
    return _admission_verdict(batch.select("doc_id").distinct(), hits, "doc_id")


#: SimHash near-dup: Hamming radius and block count. With _SIM_BITS
#: bits in _SIMH_BLOCKS=4 blocks, any pair within radius 3 shares at
#: least one EXACT block (pigeonhole: 3 differing bits cannot touch all
#: 4 blocks) — so block-equality banding has perfect recall at r=3.
#: The bit width AND the per-bit vote expression are IMPORTED from
#: reference_ext (the producer of the fingerprints this query
#: consumes) so a width or bit-layout change there cannot silently
#: desync block keys, Hamming width, or the oracle's fingerprints.
from .reference_ext import _SIM_BITS as _SIMH_BITS  # noqa: E402
from .reference_ext import _sql_sim_vote  # noqa: E402

_SIMH_RADIUS = 3
_SIMH_BLOCKS = 4
assert _SIMH_BITS % _SIMH_BLOCKS == 0, "blocks must tile the fingerprint"
assert _SIMH_RADIUS < _SIMH_BLOCKS, "pigeonhole recall guarantee broken"
_SIMH_BLOCK_W = _SIMH_BITS // _SIMH_BLOCKS

#: SimHash store codec version: the stored fingerprints bake in the
#: bit width, the per-bit vote expression and the tokenizer — bump
#: when any of them changes. v2: the table schema is recorded next to
#: the files and read back with it.
_SIMHASH_CODEC_VERSION = 2

#: One SimHash fingerprint row per non-empty document: (doc_id, simhash).
_SQL_SIMHASH_ROWS = f"""SELECT doc_id,
             array_to_string(
               list_transform(range(1, {_SIMH_BITS + 1}), j ->
                 CASE WHEN list_aggregate(
                   list_transform(hs, h ->
                     {_sql_sim_vote("h", "j")}), 'sum') >= 0
                 THEN '1' ELSE '0' END),
               '') AS simhash
      FROM (
        SELECT doc_id,
               list_transform(list_distinct({_SQL_TOKENS}),
                              x -> md5(x)) AS hs
        FROM documents
      )
      WHERE len(hs) > 0"""


def _simhash_store_path(sf_dir: str) -> str:
    """S22 store key: the codec version and bit geometry on top of the
    documents fingerprint."""
    return store_path(
        "simhash_store",
        sf_dir,
        ("documents",),
        f"v{_SIMHASH_CODEC_VERSION}b{_SIMH_BITS}",
    )


def simhash_fps_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) fingerprint relation from the write-time
    store (build-once, atomic publish, reused across sessions): the
    corpus-wide vote pass — the dominant cost of the Hamming lens at
    100 TB — runs once per (corpus fingerprint, codec version). The
    writer evaluates ``llm_simhash_documents``'s own expressions, so
    stored prints are bit-identical to query-time ones and consumers
    keep their oracles unchanged."""
    import os

    from ..sources.simhash_store import read_simhash_fps, write_simhash_fps
    from .reference_ext import llm_simhash_documents

    base = ensure_store(
        _simhash_store_path(sf_dir),
        lambda tmp: write_simhash_fps(
            llm_simhash_documents(spark, sf_dir).select("doc_id", "simhash"),
            os.path.join(tmp, "fps"),
        ),
    )
    return read_simhash_fps(spark, os.path.join(base, "fps"))


@register(
    "llm_simhash_hamming_pairs",
    oracle=rf"""
    WITH fps AS (
      {_SQL_SIMHASH_ROWS}
    ),
    blocks AS (
      SELECT doc_id, b AS block_idx,
             substr(simhash, b * {_SIMH_BLOCK_W} + 1,
                    {_SIMH_BLOCK_W}) AS key
      FROM fps, (SELECT unnest(range({_SIMH_BLOCKS})) AS b)
    ),
    bsz AS (
      SELECT block_idx, key FROM blocks
      GROUP BY block_idx, key
      HAVING COUNT(*) BETWEEN 2 AND {_LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks a
      JOIN bsz USING (block_idx, key)
      JOIN blocks b ON a.block_idx = b.block_idx AND a.key = b.key
                   AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(range(1, {_SIMH_BITS + 1}),
                 i -> substr(fa.simhash, i, 1) <> substr(fb.simhash, i, 1)))
                AS BIGINT) AS hamming
    FROM cand c
    JOIN fps fa ON fa.doc_id = c.doc_a
    JOIN fps fb ON fb.doc_id = c.doc_b
    WHERE len(list_filter(range(1, {_SIMH_BITS + 1}),
              i -> substr(fa.simhash, i, 1) <> substr(fb.simhash, i, 1)))
          <= {_SIMH_RADIUS}
    """,
)
def llm_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 EXT: SIMHASH near-dup pairs — documents whose 64-bit SimHash
    fingerprints sit within Hamming radius {_SIMH_RADIUS}, the third
    dedup geometry after token-set MinHash and character edit distance
    (SimHash weights REPEATED structure: two docs sharing most
    vocabulary mass collide even when shingle sets diverge).

    Banding is EXACT-recall by pigeonhole: radius 3 cannot touch all
    {_SIMH_BLOCKS} blocks, so every in-radius pair shares at least one
    identical {_SIMH_BLOCK_W}-bit block — no probabilistic misses,
    unlike MinHash bands. Scale shape mirrors the LSH family: block
    keys carry the shuffle, mega-buckets drop at ``_LSH_BUCKET_CAP``
    (the all-zeros block is SimHash's stop-word hazard), the Hamming
    verify is {_SIMH_BITS} char compares per candidate.

    Reads the write-time fingerprint store (round 11 — the SimHash
    twin of the S21 band adoption): the corpus vote pass never runs
    at query time; the whole query moves (doc_id, simhash) rows plus
    the candidate pairs. Stored prints are bit-identical to the
    query-time pipeline's, so the oracle replays the full fingerprint
    computation in SQL unchanged.
    """
    fps = simhash_fps_stored(spark, sf_dir)
    blocks = fps.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.substring(
                            "simhash", b * _SIMH_BLOCK_W + 1, _SIMH_BLOCK_W
                        ).alias("key"),
                    )
                    for b in range(_SIMH_BLOCKS)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "blk.block_idx", "blk.key")
    bsz = _capped_buckets(
        blocks, ["block_idx", "key"], _LSH_BUCKET_CAP, min_rows=2
    )
    a = blocks.join(bsz, ["block_idx", "key"]).select(
        "block_idx", "key", F.col("doc_id").alias("doc_a")
    )
    b = blocks.select(
        "block_idx", "key", F.col("doc_id").alias("doc_b")
    )
    cand = (
        a.join(b, ["block_idx", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    fa = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    fb = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))

    # Hamming distance as XOR + POPCOUNT per 16-bit block (4 int ops
    # each), not 64 interpreted per-character compares: the verify runs
    # once per candidate pair, and on a duplicate-heavy corpus the pair
    # count dominates the query (the 64-wide char-compare form measured
    # ~5× slower at sf0.1). conv(bits, 2, 10) on a 16-bit block is
    # overflow-free; the result is identical to the definitional
    # bit-by-bit count the oracle keeps.
    def _blk_int(col: str, b: int):
        return F.conv(
            F.substring(col, b * _SIMH_BLOCK_W + 1, _SIMH_BLOCK_W), 2, 10
        ).cast("long")

    hamming = None
    for b_ in range(_SIMH_BLOCKS):
        t = F.bit_count(_blk_int("sa", b_).bitwiseXOR(_blk_int("sb", b_)))
        hamming = t if hamming is None else hamming + t
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMH_RADIUS)
    )


@register(
    "llm_kmeans_purity",
    oracle=rf"""
    WITH {_SQL_KMEANS},
    lab AS (
      SELECT a.vec_id, a.cluster, e.label
      FROM assign{_KM_ITERS} a JOIN embeddings e USING (vec_id)
    ),
    cl AS (
      SELECT cluster, label, COUNT(*) AS cnt
      FROM lab GROUP BY cluster, label
    ),
    top AS (
      SELECT cluster, label AS top_label, cnt AS n_top_label
      FROM cl
      QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
                                 ORDER BY cnt DESC, label) = 1
    ),
    sz AS (
      SELECT cluster, SUM(cnt) AS n_members FROM cl GROUP BY cluster
    )
    SELECT sz.cluster,
           CAST(sz.n_members AS BIGINT) AS n_members,
           CAST(top.top_label AS INTEGER) AS top_label,
           CAST(top.n_top_label AS BIGINT) AS n_top_label,
           CAST(top.n_top_label AS DOUBLE) / sz.n_members AS purity
    FROM sz JOIN top ON top.cluster = sz.cluster
    """,
)
def llm_kmeans_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-EXT: CLUSTER PURITY — the Lloyd clustering evaluated against
    the embeddings' ground-truth labels: per cluster, how much of it is
    its majority label. The external-validity complement of U7's
    internal separation report (together: is K sane, and do clusters
    mean anything) — the check run before acting on cluster labels for
    SemDeDup or stratified sampling.

    Scale shape: k-means' own cost plus one (cluster, label) hash agg;
    the majority pick is ``max(struct(cnt, −label))`` inside a K-row
    aggregate (no window over members). Integer counts, one division.
    """
    _, _, _, assign = _km_state(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cl = (
        assign.join(emb, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cl.groupBy("cluster")
        .agg(
            F.sum("cnt").alias("n_members"),
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias(
                "m"
            ),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            F.col("n_members").cast("long").alias("n_members"),
            (-F.col("m.nl")).cast("int").alias("top_label"),
            F.col("m.cnt").cast("long").alias("n_top_label"),
            (F.col("m.cnt").cast("double") / F.col("n_members")).alias(
                "purity"
            ),
        )
    )


@register(
    "llm_bigram_surprisal_docs",
    oracle=rf"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
      WHERE len({_SQL_TOKENS}) >= 2
    ),
    db AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2, COUNT(*) AS c
      FROM toked, UNNEST(range(1, len(t))) AS u(i)
      GROUP BY doc_id, t[i], t[i+1]
    ),
    big AS (
      SELECT w1, w2, SUM(c) AS c12 FROM db GROUP BY w1, w2
    ),
    uni AS (
      SELECT w1, SUM(c12) AS c1 FROM big GROUP BY w1
    ),
    vocab AS (
      SELECT COUNT(DISTINCT w2) AS v FROM big
    ),
    lp AS (
      SELECT w1, w2,
             CAST(floor(-ln(CAST(c12 + 1 AS DOUBLE)
                            / CAST(c1 + v AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lp_micro
      FROM big JOIN uni USING (w1), vocab
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(SUM(c * lp_micro) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * 1000000) AS avg_surprisal_nats
    FROM db JOIN lp USING (w1, w2)
    GROUP BY doc_id
    """,
)
def llm_bigram_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: BIGRAM-LM surprisal per document — one rung up the
    n-gram-LM ladder from `llm_unigram_surprisal`: each document scored
    by its mean −ln p(w2|w1) under the add-one-smoothed corpus bigram
    model (smoothing vocabulary = distinct successor tokens). This is
    the CCNet/RedPajama perplexity-filter shape with the corpus itself
    as the model; exp(avg) is the document's bigram perplexity, and a
    doc fluent under unigrams but incoherent under bigrams (shuffled
    text, keyword stuffing) separates here.

    Cross-engine exactness: the same micro-nat discipline as the
    unigram form — per-(w1,w2) −ln p is computed once over the
    O(bigram-vocab) relation (libm ln via the Arrow UDF), floored to
    integer micro-nats; per-doc totals are exact int64 sums with ONE
    double division. Scale shape: one corpus scan collapses into a
    MATERIALIZED (doc, w1, w2) count relation — ``pin`` rather than
    ``persist`` (r8 ADVICE): an unmatched persist leaks one
    cached corpus-sized relation per invocation across a long driver
    session, while checkpoint storage is reclaimed by the
    ContextCleaner when the plan is released (the same lifecycle the
    CC/PageRank iteration checkpoints rely on). The model counts (c12,
    c1, V) all DERIVE from it (derive-the-small-from-the-big, never a
    second token explode); the scoring join is (w1,w2)-keyed against
    the O(bigram-vocab) table. Linear in corpus tokens.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    ).filter(F.size("t") >= 2)
    db = pin(
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = db.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = big.agg(F.countDistinct("w2").alias("v"))
    ln_udf = _ln_libm()
    p = (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast(
        "double"
    )
    lp = (
        big.join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.floor((-ln_udf(p)) * _LN_MICRO).cast("long").alias("lp_micro"),
        )
    )
    return (
        db.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            (
                F.sum(F.col("c") * F.col("lp_micro")).cast("double")
                / (F.sum("c").cast("double") * F.lit(float(_LN_MICRO)))
            ).alias("avg_surprisal_nats"),
        )
    )


# ---------------------------------------------------------------------------
# Round 9 batch B: sampling + diversity + mixing diagnostics
# ---------------------------------------------------------------------------

#: MATTR window (tokens). 25 is the literature's small-window default;
#: the sliding kernel is O(n) regardless.
_MATTR_W = 25


def _mattr_pandas():
    """Arrow-batched MATTR kernel: moving-average type-token ratio with
    an O(n) sliding window (a token count map updated as the window
    advances; the distinct count changes only when a count crosses
    0↔1). Returns the exact integer SUM of per-window distinct counts
    — the caller performs the single double division, so the kernel
    stays integer-exact and the DuckDB oracle (the definitional
    O(n·W) ``list_distinct`` form) matches bit-for-bit."""
    import numpy as np  # noqa: F401  (parity with sibling kernels)
    from pyspark.sql.functions import pandas_udf

    def one(tokens) -> int:
        n = len(tokens)
        if n == 0:
            return 0
        w = min(_MATTR_W, n)
        counts: dict = {}
        distinct = 0
        for i in range(w):
            c = counts.get(tokens[i], 0)
            if c == 0:
                distinct += 1
            counts[tokens[i]] = c + 1
        total = distinct
        for i in range(w, n):
            inc = tokens[i]
            c = counts.get(inc, 0)
            if c == 0:
                distinct += 1
            counts[inc] = c + 1
            out = tokens[i - w]
            c = counts[out]
            if c == 1:
                distinct -= 1
                del counts[out]
            else:
                counts[out] = c - 1
            total += distinct
        return total

    @pandas_udf("long")
    def fp(t: pd.Series) -> pd.Series:
        return t.map(one)

    return fp


@register(
    "llm_mattr_lexical_diversity",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS t, len({_SQL_TOKENS}) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(list_aggregate(
                  list_transform(
                    range(1, GREATEST(n - LEAST(n, {_MATTR_W}) + 1, 1) + 1),
                    i -> len(list_distinct(
                           t[i : i + LEAST(n, {_MATTR_W}) - 1]))),
                  'sum') AS DOUBLE)
             / (GREATEST(n - LEAST(n, {_MATTR_W}) + 1, 1)
                * LEAST(n, {_MATTR_W})) AS mattr
    FROM t
    WHERE n > 0
    """,
)
def llm_mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: MATTR lexical diversity (Covington & McFall) — the
    moving-average type-token ratio: mean over all {_MATTR_W}-token
    windows of (distinct/window). Plain TTR collapses with document
    length (long docs always repeat); MATTR is length-invariant, which
    is what makes it usable as a corpus-wide quality signal (word-salad
    and template spam sit at the extremes). Docs shorter than the
    window fall back to single-window TTR.

    Exactness: per-window distinct counts are integers; the kernel
    returns their exact SUM and ONE double division produces the
    ratio, so both engines agree bitwise. Scale shape: the sliding
    kernel is O(n) per document via an incremental count map
    (Arrow-batched — the definitional O(n·W) nested-distinct
    expression form measured ~10× slower interpreted, the same
    HOF-evaluator wall as the SimHash/winnow kernels); map-only, no
    shuffle.
    """
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    ).withColumn("n", F.size("t")).filter(F.col("n") > 0)
    w_eff = F.least(F.lit(_MATTR_W), F.col("n"))
    n_windows = F.greatest(F.col("n") - w_eff + 1, F.lit(1))
    return t.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        (
            _mattr_pandas()("t").cast("double")
            / (n_windows * w_eff).cast("double")
        ).alias("mattr"),
    )


#: Reservoir size per language for the deterministic hash reservoir.
_RESERVOIR_K = 20

#: Prefilter over-keep factor: the hash threshold keeps an expected
#: margin×K docs per group so the exact top-K window ranks a bounded
#: survivor set instead of the corpus. At 16× the probability of a
#: group keeping fewer than K survivors is Chernoff-negligible — and
#: a bust FAILS FAST rather than sampling wrong (see the query).
_RESERVOIR_MARGIN = 16


@register(
    "llm_reservoir_sample_by_lang",
    oracle=f"""
    SELECT lang, doc_id,
           CAST(rn AS BIGINT) AS sample_rank
    FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= {_RESERVOIR_K}
    """,
)
def llm_reservoir_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23 EXT: deterministic HASH RESERVOIR — a uniform
    {_RESERVOIR_K}-document sample per language as "the K smallest
    hashes win". This is distributed reservoir sampling without RNG
    state: md5(doc_id) is a fixed uniform permutation, so the K
    smallest hashes per group are a uniform K-subset, identical on
    every run, every engine, any partitioning, and STABLE under corpus
    growth (a doc's key never changes — appending documents can only
    displace, never reshuffle, the sample; classic seeded sampling
    reshuffles everything when the row order shifts).

    Scale shape — THRESHOLD PREFILTER, not a corpus window: ranking
    the whole corpus per group would sort every group's rows at the
    window. Instead, per-group sizes (a tiny broadcast aggregate) set
    a hash threshold keeping an expected ``_RESERVOIR_MARGIN``×K
    survivors per group; since ANY ≥K-row subset of smallest-hash
    candidates provably contains the true top K, the exact window then
    ranks only the O(K·margin · groups) survivor set. A margin bust
    (astronomically unlikely at 16×, but "unlikely" is not "never")
    cannot return a silently-wrong sample: a survivor-count check on
    the same tiny aggregate FAILS FAST instead (the
    ``_planes_at_oracle_floor`` discipline). The prefilter itself is a
    pushed scan predicate — the corpus is read once, never shuffled.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        )
        .cast("long")
        .alias("h32"),
    )
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # keep ~margin×K per group: hash32 < 2^32 · min(1, margin·K/n)
    bound = F.least(
        F.lit(4294967296.0),
        F.lit(4294967296.0)
        * F.lit(float(_RESERVOIR_MARGIN * _RESERVOIR_K))
        / F.col("n_docs"),
    )
    survivors = docs.join(F.broadcast(sizes), "lang").filter(
        F.col("h32") < bound
    )
    # fail fast if the margin ever busts: fewer than min(K, n) survivors
    # in any group would make the window's top-K incomplete. Anchored
    # on the SIZES side: a group whose every doc was filtered out has
    # no survivor row at all, and a survivor-side check would silently
    # miss exactly the worst bust.
    short = (
        sizes.join(
            survivors.groupBy("lang").agg(F.count(F.lit(1)).alias("n_surv")),
            "lang",
            "left",
        )
        .filter(
            F.coalesce(F.col("n_surv"), F.lit(0))
            < F.least(F.lit(_RESERVOIR_K), F.col("n_docs"))
        )
        .collect()
    )
    if short:
        raise ValueError(
            "hash-reservoir prefilter margin busted for groups "
            f"{[r['lang'] for r in short]}: raise _RESERVOIR_MARGIN"
        )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        survivors.select(
            "lang", "doc_id", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= _RESERVOIR_K)
        .select("lang", "doc_id", F.col("rn").cast("long").alias("sample_rank"))
    )


#: Weighted-sample size (Efraimidis-Spirakis, without replacement).
_ES_K = 30

#: 2^32 + 1: maps the 8-hex-digit md5 prefix (0..2^32-1) to a uniform
#: u strictly inside (0, 1) — never 0 (ln(0) = -inf) and never 1
#: (key 0 for every weight).
_ES_DEN = 4294967297.0


@register(
    "llm_weighted_sample_docs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             len({_SQL_TOKENS}) AS n_tokens,
             list_reduce(
               list_transform(range(1, 9),
                 i -> CAST(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                      AS BIGINT)),
               (a, b) -> a * 16 + b) AS h
      FROM documents
      WHERE len({_SQL_TOKENS}) > 0
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((-ln((CAST(h AS DOUBLE) + 1) / {_ES_DEN}))
                      * 1000000 / n_tokens) AS BIGINT) AS key_micro
    FROM w
    ORDER BY key_micro, doc_id
    LIMIT {_ES_K}
    """,
)
def llm_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23 EXT: WEIGHTED sampling without replacement
    (Efraimidis-Spirakis): each document draws key = −ln(u)/w with
    u uniform from its md5 prefix and w = its token count; the _ES_K
    smallest keys are the sample. This is THE one-pass distributed
    algorithm for token-weighted selection (P(doc in sample) ∝ tokens,
    jointly without replacement) — the exact-sampling complement of
    the systematic PPS operator, deterministic here by deriving u from
    the content id instead of an RNG stream.

    Exactness: u = (int(md5[0:8]) + 1) / 2^32+1 — exact int → exact
    double division; ln is libm on BOTH engines (Arrow UDF vs DuckDB
    ln); the key is floored to integer micro-units with the identical
    multiply-then-divide order, so ties and ordering agree bitwise.
    Scale shape: map pass + TakeOrdered(k) — no global sort, no
    shuffle beyond the K-row result.
    """
    ln = _ln_libm()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(_tokens()).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(_ES_DEN)
    key = F.floor(
        (-ln(u)) * F.lit(1_000_000.0) / F.col("n_tokens")
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            key.alias("key_micro"),
        )
        .orderBy("key_micro", "doc_id")
        .limit(_ES_K)
    )


@register(
    "llm_source_kl_divergence",
    oracle=rf"""
    WITH sw AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c_sw
      FROM (SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents)
      GROUP BY source, term
    ),
    s AS (SELECT source, SUM(c_sw) AS n_s FROM sw GROUP BY source),
    wtot AS (SELECT term, SUM(c_sw) AS c_w FROM sw GROUP BY term),
    tot AS (SELECT SUM(c_sw) AS n FROM sw),
    term_kl AS (
      SELECT sw.source, sw.c_sw,
             CAST(floor(ln(CAST(sw.c_sw * tot.n AS DOUBLE)
                           / CAST(s.n_s * wtot.c_w AS DOUBLE))
                        * 1000000) AS BIGINT) AS lr_micro
      FROM sw JOIN s USING (source) JOIN wtot USING (term), tot
    )
    SELECT tk.source,
           CAST(s.n_s AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(tk.c_sw * tk.lr_micro) AS DOUBLE)
             / (CAST(s.n_s AS DOUBLE) * 1000000) AS kl_nats
    FROM term_kl tk JOIN s ON s.source = tk.source
    GROUP BY tk.source, s.n_s
    """,
)
def llm_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: per-source KL DIVERGENCE from the corpus unigram
    distribution — KL(P_source ‖ P_corpus) in nats, the data-MIXING
    diagnostic: sources far from the mixture dominate loss early in
    training and want re-weighting (the DoReMi-style signal); sources
    near zero add no diversity. Per source also reports token mass and
    distinct-term usage.

    Exactness: the micro-nat discipline — each term's log-ratio
    ln((c_sw·N)/(n_s·c_w)) is computed ONCE over the O(sources×vocab)
    relation (libm ln via the Arrow UDF; integer products are exact in
    double below 2^53), floored to integer micro-nats; per-source
    totals are exact int64 sums with ONE double division. Scale shape:
    ONE token explode builds the (source, term) aggregate and every
    marginal (n_s, c_w, N) DERIVES from it — never a second corpus
    scan; the scoring join is term-keyed against the O(vocab) table.
    """
    ln = _ln_libm()
    docs = load_table(spark, sf_dir, "documents")
    sw = (
        docs.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_sw"))
    )
    s = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    wtot = sw.groupBy("term").agg(F.sum("c_sw").alias("c_w"))
    tot = sw.agg(F.sum("c_sw").alias("n"))
    ratio = (F.col("c_sw") * F.col("n")).cast("double") / (
        F.col("n_s") * F.col("c_w")
    ).cast("double")
    term_kl = (
        sw.join(s, "source")
        .join(wtot, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "c_sw",
            F.floor(ln(ratio) * F.lit(1_000_000.0)).cast("long").alias(
                "lr_micro"
            ),
        )
    )
    return (
        term_kl.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(F.col("c_sw") * F.col("lr_micro")).alias("s_micro"),
            F.sum("c_sw").alias("n_s2"),
        )
        .select(
            "source",
            F.col("n_s2").cast("long").alias("n_tokens"),
            "n_terms",
            (
                F.col("s_micro").cast("double")
                / (F.col("n_s2").cast("double") * F.lit(1_000_000.0))
            ).alias("kl_nats"),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition on the candidate graph (graph family completion)
# ---------------------------------------------------------------------------

#: k-core threshold and unrolled peel rounds. Peeling converges in at
#: most diameter-ish rounds on the bucket-local candidate graphs LSH
#: emits; both engines run EXACTLY _KCORE_ROUNDS rounds (the oracle
#: CTEs are generated from the same constant) and the fixpoint-reached
#: property is pinned separately in pytest, so parity can never hinge
#: on a convergence-detection difference.
_KCORE_K = 2
_KCORE_ROUNDS = 8


def _sql_kcore_round(i: int) -> str:
    """One unrolled peel round (DuckDB): degrees within the surviving
    subgraph, then drop nodes under _KCORE_K. Every CTE here is
    ``MATERIALIZED``: ``alive{{i-1}}`` is referenced TWICE per round,
    so letting DuckDB inline it would re-expand the entire upstream
    pipeline 2^rounds times — materialization is what keeps the
    unrolled oracle linear in rounds (the Spark side's ``pin`` plays
    the same role)."""
    return f"""
    deg{i} AS MATERIALIZED (
      SELECT e.src AS doc_id, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges e
      JOIN alive{i - 1} a ON a.doc_id = e.src
      JOIN alive{i - 1} b ON b.doc_id = e.dst
      GROUP BY e.src
    ),
    alive{i} AS MATERIALIZED (
      SELECT doc_id FROM deg{i} WHERE d >= {_KCORE_K}
    )"""


@register(
    "llm_kcore_candidates",
    oracle=rf"""
    WITH sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bsz USING (band_idx, key)
      JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                  AND a.doc_id < b.doc_id
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    alive0 AS MATERIALIZED (
      SELECT DISTINCT src AS doc_id FROM edges
    ),
    {",".join(_sql_kcore_round(i) for i in range(1, _KCORE_ROUNDS + 1))}
    SELECT doc_id, d AS core_degree
    FROM deg{_KCORE_ROUNDS}
    WHERE d >= {_KCORE_K}
    """,
)
def llm_kcore_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-EXT: K-CORE decomposition of the LSH candidate graph — the
    maximal subgraph where every doc keeps ≥ ``_KCORE_K`` near-dup
    neighbors after iteratively PEELING lower-degree nodes. The fourth
    graph lens after components (membership), triangles (local
    cliques) and PageRank (global hubs): the k-core is the DENSE
    TEMPLATE CORE — boilerplate families so heavily duplicated that
    removing their fringe still leaves a mutually-connected mass —
    the highest-confidence "strip the template" set, robust to the
    one-off chains that inflate raw degree.

    Cross-engine exactness: peeling is pure integer degree counting;
    both engines run EXACTLY ``_KCORE_ROUNDS`` unrolled rounds from
    the same constant (the k-means/PageRank generated-oracle
    discipline) and fixpoint-by-then is pinned in pytest, so parity
    never hinges on convergence detection. Scale shape: edges come
    from the SAME bucket-capped candidate generator as the dedup
    family (degree bounded by the cap — which also bounds peel rounds:
    degrees only shrink); each round is two node-keyed LEFT SEMI joins
    + one hash agg on the O(edges) relation, pinned so the plan stays
    flat.
    """
    # candidate edges from the S21 band store (round 11): the whole
    # query never touches documents.parquet
    cand = minhash_candidate_pairs_stored(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    edges = pin(
        cand.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            cand.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
    )
    alive = edges.select(F.col("src").alias("doc_id")).distinct()
    # Convergence is OBSERVED, not assumed (the CC fail-fast
    # discipline): each round's survivor count is compared with the
    # previous round's — equal counts mean the round peeled nothing,
    # and since degrees only shrink when nodes drop, that IS the
    # fixpoint (remaining unrolled rounds are no-ops on both engines,
    # so breaking early is result-identical). A graph may also
    # converge EXACTLY at round _KCORE_ROUNDS — the final round removes
    # nodes and a further round would remove none; that is a correct,
    # oracle-matching result, so loop exhaustion triggers one extra
    # VERIFICATION degree pass rather than an unconditional failure.
    # Only if that verification round would still peel nodes does the
    # oracle's unrolled-round count genuinely undershoot the true
    # k-core (both engines agree on a SUPERSET) — fail loudly then.

    def _degree_pass(alive_df: DataFrame) -> DataFrame:
        return (
            edges.join(
                alive_df.select(F.col("doc_id").alias("src")),
                "src",
                "left_semi",
            )
            .join(
                alive_df.select(F.col("doc_id").alias("dst")),
                "dst",
                "left_semi",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )

    deg = None
    prev_n = None
    n = None
    for _ in range(_KCORE_ROUNDS):
        deg = _degree_pass(alive)
        alive = pin(
            deg.filter(F.col("d") >= _KCORE_K)
            .select("doc_id")
        )
        n = alive.count()
        if prev_n is not None and n == prev_n:
            break
        prev_n = n
    else:
        n_verify = (
            _degree_pass(alive).filter(F.col("d") >= _KCORE_K).count()
        )
        if n_verify != n:
            raise RuntimeError(
                f"k-core peel did not converge in {_KCORE_ROUNDS} "
                f"rounds (a verification round would still remove "
                f"nodes: {n} -> {n_verify} survivors); the "
                "unrolled-round oracle would agree on a SUPERSET of "
                "the true k-core — raise _KCORE_ROUNDS (and "
                "regenerate the oracle from it) for this graph "
                "topology"
            )
    return deg.filter(F.col("d") >= _KCORE_K).select(
        "doc_id", F.col("d").alias("core_degree")
    )


# ---------------------------------------------------------------------------
# Leakage-aware train/val/test split (dedup family composed into the
# one decision every training pipeline ships)
# ---------------------------------------------------------------------------

#: Hash-prefix thresholds for the ~80/10/10 split: a doc's GROUP key
#: (near-dup cluster id, or its own id for singletons) hashes once,
#: and the 4-hex-char prefix sorts against these. String thresholds on
#: md5 hex are engine-portable with no integer parsing (the
#: llm_mix_sample_by_lang discipline): 'cccc'/'10000' = .7999…,
#: 'e666'/'10000' = .8999….
_SPLIT_THR_TRAIN = "cccc"
_SPLIT_THR_VAL = "e666"


def leakage_aware_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level (doc_id, lang, n_chars, cluster_key, split) relation
    behind ``llm_train_split_leakage_aware``: every document is
    assigned train/val/test by hashing its near-dup CLUSTER id (its
    own id if it has no candidate pair), so two near-duplicate
    documents can never land in different splits — the split is a
    pure function of the cluster key. Exposed separately so the
    leakage property is testable at doc granularity
    (tests/test_leakage_split.py joins the candidate pairs against
    this and asserts zero straddlers).

    Round 11: the cluster relation comes from the shared CLUSTER store
    (``neardup_components_stored``) — this query previously re-ran the
    full signature pass AND the CC solve (the 6.7× 10×-probe outlier,
    SCALE.md r9); both now amortize across the whole dedup family."""
    docs = load_table(spark, sf_dir, "documents")
    comp = neardup_components_stored(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), "cluster_id"
    )
    keyed = docs.select("doc_id", "lang", "n_chars").join(
        comp, "doc_id", "left"
    )
    ck = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    h4 = F.substring(F.md5(ck.cast("string")), 1, 4)
    return keyed.select(
        "doc_id",
        "lang",
        "n_chars",
        ck.alias("cluster_key"),
        F.when(h4 < _SPLIT_THR_TRAIN, F.lit("train"))
        .when(h4 < _SPLIT_THR_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "llm_train_split_leakage_aware",
    oracle=rf"""
    WITH RECURSIVE sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    {_SQL_COMPONENTS},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    keyed AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_key
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    assigned AS (
      SELECT lang, n_chars, cluster_key,
             CASE
               WHEN substr(md5(CAST(cluster_key AS VARCHAR)), 1, 4)
                    < '{_SPLIT_THR_TRAIN}' THEN 'train'
               WHEN substr(md5(CAST(cluster_key AS VARCHAR)), 1, 4)
                    < '{_SPLIT_THR_VAL}' THEN 'val'
               ELSE 'test'
             END AS split
      FROM keyed
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT cluster_key) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM assigned
    GROUP BY split, lang
    """,
)
def llm_train_split_leakage_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/J6/J7 composed into the decision every training pipeline
    ships: a LEAKAGE-AWARE train/val/test split. Random or
    hash-of-doc-id splits leak — near-duplicate documents straddle
    train and test, and the held-out loss silently measures
    memorization. Here the split is assigned by hashing the near-dup
    CLUSTER id (connected components over the banded-MinHash candidate
    graph; a doc's own id if it has no candidate pair), so the split
    is a pure function of the cluster key and near-duplicates can
    NEVER straddle splits — the pair-level zero-straddler property is
    pinned at doc granularity in tests/test_leakage_split.py.

    Determinism: hash thresholds on md5 hex prefixes (the
    llm_mix_sample_by_lang discipline) — reproducible across runs,
    engines, partition counts and cluster sizes, and STABLE under
    corpus growth for unchanged clusters (a new doc reassigns only
    the clusters it merges). Scale shape: the candidate generator and
    CC are the production bucketed/bounded plans; the split itself
    adds one LEFT join against the O(docs-with-pairs) component
    relation and a pure map-side hash — no new shuffle hazard. The
    report aggregates per (split, lang) for a stable driver row.
    """
    return (
        leakage_aware_split_docs(spark, sf_dir)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_key").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding covariance / correlation matrix (distributed X^T X — the
# PCA / whitening building block)
# ---------------------------------------------------------------------------


def gram_moment_relations(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact second/first-moment relations of the embedding corpus —
    the shared engine of ``llm_embedding_covariance`` (full matrix
    out) and ``llm_embedding_mahalanobis`` (moments in, inverse on
    the driver): quantization is the JVM ``_iscale`` expression, then
    each Arrow batch contributes ONE exact int64 ``X^T X`` matmul and
    per-dim sums, emitting ≤ D(D+1)/2 + D partial rows per batch.
    Returns ``(prod, sums)``: the upper-triangle product sums
    (i, j, pp) and the per-dim (i, s, n)."""

    vec = emb.select(
        F.transform("embedding", lambda c: _iscale(c)).alias("sv")
    )

    def gram_partials(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["sv"].tolist(), dtype=np.int64)
            d = X.shape[1]
            g = X.T @ X
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int64),
                    "j": ju.astype(np.int64),
                    "pp": g[iu, ju],
                    "n": np.zeros(len(iu), dtype=np.int64),
                }
            )
            yield pd.DataFrame(
                {
                    "i": np.arange(d, dtype=np.int64),
                    "j": np.full(d, -1, dtype=np.int64),
                    "pp": X.sum(axis=0),
                    "n": np.full(d, len(X), dtype=np.int64),
                }
            )

    partials = vec.mapInPandas(
        gram_partials, "i long, j long, pp long, n long"
    )
    # r18 (guide §1.2/§2.3): ONE (i, j)-keyed aggregate carries both
    # moment families (the per-dim sums ride the sentinel j = -1 rows),
    # where the r17 form aggregated `partials` twice — and every
    # consumer of the returned pair (covariance's join, mahalanobis,
    # top-pc-power's two collects) re-ran the full-corpus Arrow matmul
    # per subtree. Pinned, the corpus pass runs exactly once and every
    # consumer reads the O(D²) = 2,144 rows at D=64.
    mom = pin(
        partials.groupBy("i", "j")
        .agg(F.sum("pp").alias("pp"), F.sum("n").alias("n"))
    )
    prod = mom.filter(F.col("j") >= 0).select("i", "j", "pp")
    sums = mom.filter(F.col("j") == -1).select(
        "i", F.col("pp").alias("s"), "n"
    )
    return prod, sums


@register(
    "llm_embedding_covariance",
    oracle=rf"""
    WITH x AS (
      SELECT vec_id, i - 1 AS i, {_SQL_ISCALE.format(v="e")} AS xi
      FROM (
        SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      )
    ),
    p AS (
      SELECT a.i AS i, b.i AS j, SUM(a.xi * b.xi) AS pp
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    s AS (SELECT i, SUM(xi) AS s, COUNT(*) AS n FROM x GROUP BY i),
    c AS (
      SELECT p.i, p.j,
             (CAST(pp AS DOUBLE) / si.n
              - (CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE))
                / (CAST(si.n AS DOUBLE) * CAST(si.n AS DOUBLE)))
             / 1000000000000.0 AS cov
      FROM p
      JOIN s si ON si.i = p.i
      JOIN s sj ON sj.i = p.j
    )
    SELECT c.i, c.j, c.cov,
           c.cov / (sqrt(vi.cov) * sqrt(vj.cov)) AS corr
    FROM c
    JOIN c vi ON vi.i = c.i AND vi.j = c.i
    JOIN c vj ON vj.i = c.j AND vj.j = c.j
    """,
)
def llm_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5-adjacent EXT: the upper-triangle COVARIANCE and CORRELATION
    matrix of the embedding corpus — distributed X^T X, the building
    block behind PCA, ZCA whitening and Mahalanobis outlier scoring of
    an embedding table. Correlated dimensions mean wasted capacity and
    distance distortion; the whitening transform starts exactly here.

    Scale shape (the part that matters at 10⁹ vectors): QUANTIZATION
    stays a JVM expression (``_iscale`` per element — the exact
    decimal-cast semantics the oracle shares; numpy's banker's
    rounding must never substitute for it), and the Gram work runs as
    an Arrow-batched ``mapInPandas`` kernel: each batch contributes
    ONE exact int64 ``X^T X`` matmul (BLAS-shaped, not D² scalar
    expressions) plus per-dim sums, emitting ≤ D(D+1)/2 + D partial
    rows per batch — the shuffle moves O(batches · D²) tiny rows,
    never O(n · D²), and the reduce is a hash aggregate over exact
    integer partials (addition order free). The explode formulation
    this replaced measured 6× the kernel's time at the 10× probe —
    the same finding as MATTR/SimHash: per-element Catalyst
    expressions lose to one vectorized kernel when the per-row work
    is a dense numeric loop. Final joins are against 64-row
    relations. Exactness: fixed-point ``_FP`` products summed as
    int64 (exact; < 2^53 through sf0.1 so the int→double conversion
    is lossless, and correctly rounded identically on both engines
    beyond), then ONE shared division order for cov and corr on both
    sides. Int64 partials hold to ~10⁹ rows at unit-norm embeddings;
    past that, widen the partial sums to DECIMAL(38,0) at the
    aggregate (same plan shape).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    prod, sums = gram_moment_relations(emb)
    si = sums.select(
        F.col("i"), F.col("s").alias("s_i"), F.col("n").alias("n")
    )
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    cov = (
        (
            F.col("pp").cast("double") / F.col("n")
            - (F.col("s_i").cast("double") * F.col("s_j").cast("double"))
            / (F.col("n").cast("double") * F.col("n").cast("double"))
        )
        / F.lit(1000000000000.0)
    )
    cm = (
        prod.join(si, "i")
        .join(sj, "j")
        .select("i", "j", cov.alias("cov"))
    )
    var = cm.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("cov").alias("v")
    )
    return (
        cm.join(var.select(F.col("d").alias("i"), F.col("v").alias("v_i")), "i")
        .join(var.select(F.col("d").alias("j"), F.col("v").alias("v_j")), "j")
        .select(
            "i",
            "j",
            "cov",
            (
                F.col("cov") / (F.sqrt("v_i") * F.sqrt("v_j"))
            ).alias("corr"),
        )
    )


#: Mahalanobis scoring: ridge added to the covariance diagonal before
#: inversion (guards rank deficiency when n < D or dimensions are
#: collinear), and the outlier-report size.
_MAHA_RIDGE = 1e-9
_MAHA_TOPK = 20


@register("llm_embedding_mahalanobis", oracle=None)
def llm_embedding_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F57's consumer: MAHALANOBIS outlier scoring of the embedding
    table — distance under the corpus's own covariance geometry,
    which catches outliers that Euclidean distance misses when
    dimensions are correlated (the standard embedding-QA screen
    before ANN indexing or SemDeDup: mis-embedded rows, truncation
    artifacts, wrong-modality strays score far from the mass).

    Rows-only by necessity: the score needs C⁻¹, and a matrix inverse
    is not SQL-expressible — correctness is pinned instead by a full
    numpy recompute (tests/test_scale_ops.py) plus determinism across
    invocations. Scale shape: moments come from the shared exact-int64
    Arrow matmul (``gram_moment_relations``); the driver collects only
    the O(D²) aggregated moment rows (the bounded-action pattern of
    the IVF-PQ probe-cell pick — D=64 ⇒ 2,144 rows regardless of
    corpus size), inverts the D×D matrix once, and ships (μ, C⁻¹)
    into a second Arrow kernel whose per-batch work is two (B×D)·
    (D×D) matmuls — the corpus is scanned twice and shuffled never
    (the final TakeOrdered moves ``_MAHA_TOPK`` rows).
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    prod, sums = gram_moment_relations(emb)
    mom = {(r["i"], r["j"]): r["pp"] for r in prod.collect()}
    svec = {r["i"]: (r["s"], r["n"]) for r in sums.collect()}
    d = len(svec)
    n = svec[0][1]
    s = np.array([svec[i][0] for i in range(d)], dtype=np.float64)
    c = np.zeros((d, d), dtype=np.float64)
    for (i, j), pp in mom.items():
        v = (pp / n - (s[i] * s[j]) / (n * n)) / 1e12
        c[i, j] = v
        c[j, i] = v
    mu = s / n / 1e6
    cinv = np.linalg.inv(c + _MAHA_RIDGE * np.eye(d))

    def maha_scores(batches):
        import numpy as np  # noqa: F811 — executor-side import

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Y = X - mu
            m2 = np.einsum("ij,ij->i", Y @ cinv, Y)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "m2": m2,
                }
            )

    scored = emb.select("vec_id", "label", "embedding").mapInPandas(
        maha_scores, "vec_id long, label int, m2 double"
    )
    return scored.orderBy(F.desc("m2"), "vec_id").limit(_MAHA_TOPK)


# ---------------------------------------------------------------------------
# Round-11 operators: sentence-level dedup signal, n-gram repetition
# profile, DSIR importance weights, cluster-size histogram, c-TF-IDF
# class terms, tokenizer fertility fairness
# ---------------------------------------------------------------------------

#: Minimum trimmed fragment length for a sentence to count — kills the
#: empty tail fragment a trailing terminator produces plus punctuation
#: noise; shared by both engines.
_SENT_MIN_CHARS = 3


@register(
    "llm_sentence_dedup_fraction",
    oracle=rf"""
    WITH sent AS (
      SELECT DISTINCT doc_id, md5(s) AS k
      FROM (
        SELECT doc_id, trim(f) AS s
        FROM (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '[.!?]+')) AS f
          FROM documents
        )
      )
      WHERE len(s) >= {_SENT_MIN_CHARS}
    ),
    nd AS (
      SELECT k, COUNT(*) AS n_docs FROM sent GROUP BY k
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(CASE WHEN nd.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_sentences,
           CAST(SUM(CASE WHEN nd.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_fraction
    FROM sent s JOIN nd ON nd.k = s.k
    GROUP BY s.doc_id
    """,
)
def llm_sentence_dedup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: SENTENCE-level duplication signal — per document, the
    fraction of its distinct sentences that also appear in at least
    one OTHER document (the C4 "three-sentence span" / CCNet
    paragraph-dedup family at sentence granularity): high fractions
    flag boilerplate skeletons that document-level MinHash misses when
    the surrounding text differs. Sentences are lowercased terminator
    splits, trimmed, with fragments under ``_SENT_MIN_CHARS`` chars
    dropped.

    Scale shape: sentences shuffle by their 128-bit md5 key — two
    short columns, never the text — through one DISTINCT, one count
    aggregate (map-side partial combine collapses the boilerplate
    key's replicas early) and one key join whose probe side is the
    same hashed relation; a viral sentence is ONE hot key handled by
    AQE skew splitting, not a quadratic pair expansion. Fraction is a
    double ratio of exact ints — bitwise cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    sent = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"[.!?]+")).alias("f"),
        )
        .select("doc_id", F.trim(F.col("f")).alias("s"))
        .filter(F.length("s") >= _SENT_MIN_CHARS)
        .select("doc_id", F.md5("s").alias("k"))
        .distinct()
    )
    nd = sent.groupBy("k").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sent.join(nd, "k")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum((F.col("n_docs") >= 2).cast("int"))
            .cast("long")
            .alias("n_dup_sentences"),
        )
        .select(
            "doc_id",
            "n_sentences",
            "n_dup_sentences",
            (
                F.col("n_dup_sentences").cast("double")
                / F.col("n_sentences")
            ).alias("dup_fraction"),
        )
    )


@register(
    "llm_repetition_ngram_profile",
    oracle=rf"""
    WITH toked AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    g AS (
      SELECT doc_id, 2 AS n, unnest({_sql_word_ngrams("t", 2)}) AS g
      FROM toked
      UNION ALL
      SELECT doc_id, 3 AS n, unnest({_sql_word_ngrams("t", 3)}) AS g
      FROM toked
      UNION ALL
      SELECT doc_id, 4 AS n, unnest({_sql_word_ngrams("t", 4)}) AS g
      FROM toked
    ),
    cnt AS (
      SELECT doc_id, n, g, COUNT(*) AS c FROM g GROUP BY doc_id, n, g
    )
    SELECT doc_id, n, n_grams, n_uniq, top_c,
           1.0 - CAST(n_uniq AS DOUBLE) / n_grams AS dup_frac,
           CAST(top_c AS DOUBLE) / n_grams AS top_frac
    FROM (
      SELECT doc_id, n,
             CAST(SUM(c) AS BIGINT) AS n_grams,
             CAST(COUNT(*) AS BIGINT) AS n_uniq,
             CAST(MAX(c) AS BIGINT) AS top_c
      FROM cnt GROUP BY doc_id, n
    )
    """,
)
def llm_repetition_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: the full Gopher REPETITION PROFILE — duplicate-mass and
    top-gram fractions for word 2-, 3- AND 4-grams in one relation
    (Rae et al.'s "duplicate n-gram fraction" family; F22 reports the
    bigram column only). A doc that passes the bigram gate but fails
    at 4-grams is the verbatim-refrain case quality filters miss with
    a single n.

    Scale shape: ONE corpus scan — the three gram levels explode from
    a single flattened array expression per document, so the expensive
    text pass is not repeated per n (the oracle's three-way UNION is
    the same multiset) — then one (doc, n, gram) hash aggregate with
    map-side combine and one (doc, n) rollup carrying sum/count/max in
    the same shuffle. Per-doc gram counts are bounded by doc length;
    the n column adds fanout 3, not a new shuffle key distribution.
    Fractions are double ratios of exact ints — bitwise cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)

    # single-arg lambda via a factory closure: a two-parameter lambda
    # would make F.transform bind the second param to the ELEMENT
    # INDEX, silently replacing the n tag
    def _level(n: int):
        return F.transform(
            _word_ngrams(F.col("t"), n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
        )

    levels = F.flatten(F.array(_level(2), _level(3), _level(4)))
    grams = toked.select("doc_id", F.explode(levels).alias("x")).select(
        "doc_id", F.col("x.n").alias("n"), F.col("x.g").alias("g")
    )
    cnt = grams.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = cnt.groupBy("doc_id", "n").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_uniq"),
        F.max("c").cast("long").alias("top_c"),
    )
    return agg.select(
        "doc_id",
        "n",
        "n_grams",
        "n_uniq",
        "top_c",
        (
            F.lit(1.0) - F.col("n_uniq").cast("double") / F.col("n_grams")
        ).alias("dup_frac"),
        (F.col("top_c").cast("double") / F.col("n_grams")).alias("top_frac"),
    )


#: DSIR hashed-n-gram geometry: bucket = first _DSIR_PREF hex chars of
#: md5(bigram) → 16^_DSIR_PREF buckets. Hashing to a FIXED bucket
#: space is the whole trick (Xie et al., "Data Selection for Language
#: Models via Importance Resampling", 2023): the importance model
#: needs O(buckets) state, not O(vocab²), at any corpus size.
_DSIR_PREF = 3
_DSIR_BUCKETS = 16 ** _DSIR_PREF


@register(
    "llm_dsir_importance",
    oracle=rf"""
    WITH toked AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    g AS (
      SELECT doc_id, substr(md5(s), 1, {_DSIR_PREF}) AS b
      FROM (
        SELECT doc_id, unnest({_sql_word_ngrams("t", 2)}) AS s FROM toked
      )
    ),
    tgt AS (
      SELECT b, COUNT(*) AS tc FROM g
      WHERE doc_id % {_DECON_MOD} = {_DECON_REM} GROUP BY b
    ),
    srcg AS (
      SELECT doc_id, b FROM g WHERE doc_id % {_DECON_MOD} <> {_DECON_REM}
    ),
    src AS (SELECT b, COUNT(*) AS sc FROM srcg GROUP BY b),
    tot AS (
      SELECT (SELECT COALESCE(SUM(tc), 0) FROM tgt) AS tt,
             (SELECT COALESCE(SUM(sc), 0) FROM src) AS st
    ),
    w AS (
      SELECT src.b,
             CAST(floor(ln(CAST(COALESCE(tgt.tc, 0) + 1 AS DOUBLE)
                           / CAST(tot.tt + {_DSIR_BUCKETS} AS DOUBLE))
                        * 1000000) AS BIGINT)
             - CAST(floor(ln(CAST(src.sc + 1 AS DOUBLE)
                             / CAST(tot.st + {_DSIR_BUCKETS} AS DOUBLE))
                          * 1000000) AS BIGINT) AS w_fp
      FROM src LEFT JOIN tgt ON tgt.b = src.b CROSS JOIN tot
    ),
    dc AS (SELECT doc_id, b, COUNT(*) AS c FROM srcg GROUP BY doc_id, b)
    SELECT dc.doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(SUM(c * w_fp) AS BIGINT) AS score_fp,
           CAST(SUM(c * w_fp) AS DOUBLE) / 1000000.0 / SUM(c)
             AS avg_log_ratio
    FROM dc JOIN w ON w.b = dc.b
    GROUP BY dc.doc_id
    """,
)
def llm_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: DSIR importance weights (Xie et al. 2023) — score every
    raw-corpus document by how much more likely its hashed-bigram
    profile is under a TARGET distribution than under the raw corpus:
    avg log p_target(b)/q_raw(b) over the doc's bigram buckets, with
    add-one smoothing over the fixed {_DSIR_BUCKETS}-bucket space.
    The target here is the deterministic ``doc_id % {_DECON_MOD}``
    slice the decontamination family already uses as its stand-in for
    "trusted high-quality corpus"; positive scores mark documents to
    up-sample when matching pretraining data to a target domain.

    Scale shape: the importance MODEL is O(buckets) — two bucket-count
    aggregates and a ≤{_DSIR_BUCKETS}-row weight relation that
    BROADCASTS to the per-doc join regardless of corpus size; the
    per-doc pass is one hash aggregate on (doc, bucket). Cross-engine
    exactness: bucket log-ratios are floored to integer micro-nats
    (the unigram-surprisal discipline — libm ``ln`` via the Arrow UDF
    on the tiny weight relation, never per document), so the per-doc
    sum is EXACT int64 arithmetic and the final double division is
    bitwise on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    # Every consumer (bucket census, per-doc pass) works from
    # (doc, bucket) COUNTS, so aggregate the hashed-bigram stream ONCE
    # at that grain — the map-side partial aggregate collapses the
    # stream to ≤{buckets} rows per doc before the exchange, and what
    # gets materialized is the collapsed count relation, not the full
    # bigram stream the r17 form materialized.
    g = pin(
        toked.select(
            "doc_id", F.explode(_word_ngrams(F.col("t"), 2)).alias("s")
        )
        .select(
            "doc_id", F.substring(F.md5("s"), 1, _DSIR_PREF).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_tgt = (F.col("doc_id") % _DECON_MOD) == _DECON_REM
    # ONE bucket census carries both sides (target and raw counts per
    # bucket) — the previous shape aggregated the gram relation five
    # times (tgt, src, their two totals re-deriving each, and the
    # per-doc pass); now it is two passes (census + per-doc) plus
    # O(buckets) arithmetic.
    bc = pin(
        g.groupBy("b")
        .agg(
            F.sum(F.when(is_tgt, F.col("c")).otherwise(0)).alias("tc"),
            F.sum(F.when(~is_tgt, F.col("c")).otherwise(0)).alias("sc"),
        )
    )
    tot = bc.agg(
        F.coalesce(F.sum("tc"), F.lit(0)).alias("tt"),
        F.coalesce(F.sum("sc"), F.lit(0)).alias("st"),
    )
    ln = _ln_libm()

    def _ln_fp(num, den):
        return F.floor(
            ln(num.cast("double") / den.cast("double")) * F.lit(1000000.0)
        ).cast("long")

    w = (
        bc.filter(F.col("sc") >= 1)
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                _ln_fp(
                    F.col("tc") + 1,
                    F.col("tt") + _DSIR_BUCKETS,
                )
                - _ln_fp(F.col("sc") + 1, F.col("st") + _DSIR_BUCKETS)
            ).alias("w_fp"),
        )
    )
    dc = g.filter(~is_tgt).select("doc_id", "b", "c")
    return (
        dc.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.col("c") * F.col("w_fp")).cast("long").alias("score_fp"),
        )
        .select(
            "doc_id",
            "n_grams",
            "score_fp",
            (
                F.col("score_fp").cast("double")
                / F.lit(1000000.0)
                / F.col("n_grams")
            ).alias("avg_log_ratio"),
        )
    )


@register(
    "llm_cluster_size_histogram",
    oracle=rf"""
    WITH RECURSIVE sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    {_SQL_COMPONENTS},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
)
def llm_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 EXT: near-dup CLUSTER SIZE DISTRIBUTION — how many clusters
    exist at each size and how many documents they hold. The
    before/after report every dedup run ships (expected token savings
    = Σ (size−1) over clusters; a fat tail says "template family,
    strip not drop"). Fourth consumer of the shared CLUSTER store:
    the whole query is one parquet scan of the persisted label
    relation plus two tiny aggregates — at 100 TB this report costs
    seconds because the signature pass and the CC solve were paid at
    ingest (``neardup_components_stored``). Oracle: the identical
    candidate graph closed by DuckDB's recursive CTE, then the same
    double aggregate. Integer counts only — bitwise cross-engine.
    """
    comp = neardup_components_stored(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
    )


#: c-TF-IDF report size and minimum in-class support.
_CTFIDF_TOPK = 10
_CTFIDF_MIN_C = 5


@register(
    "llm_ctfidf_by_lang",
    oracle=rf"""
    WITH tf AS (
      SELECT lang, term, COUNT(*) AS c
      FROM (SELECT lang, unnest({_SQL_TOKENS}) AS term FROM documents)
      GROUP BY lang, term
    ),
    ft AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ftot FROM tf GROUP BY term),
    nc AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total_tok,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM tf
    ),
    scored AS (
      SELECT tf.lang, tf.term,
             CAST(tf.c AS DOUBLE)
               * ln(1.0 + (CAST(total_tok AS DOUBLE) / n_langs) / ftot)
               AS ctfidf
      FROM tf CROSS JOIN nc JOIN ft ON ft.term = tf.term
      WHERE tf.c >= {_CTFIDF_MIN_C}
    ),
    ranked AS (
      SELECT lang, term, ctfidf,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY ctfidf DESC, term
             ) AS rn
      FROM scored
    )
    SELECT lang, term, ctfidf, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_CTFIDF_TOPK}
    """,
)
def llm_ctfidf_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: class-based TF-IDF (the BERTopic c-TF-IDF statistic)
    with language as the class — the top-{_CTFIDF_TOPK} terms MOST
    DISTINCTIVE of each language slice, scored tf_c,t · ln(1 + A/f_t)
    where A is the average class token mass and f_t the term's
    cross-class frequency. The corpus-characterization twin of
    per-document TF-IDF (F20): this is the report that tells a
    curation run what each source/language cluster is actually about.

    Scale shape: one corpus explode → (class, term) hash aggregate
    (map-side combine; the key space is vocab × classes, uniform);
    the idf factor depends on the TERM alone, so libm ``ln`` (the
    BM25 Arrow-UDF discipline — JVM Math.log is 1 ulp off) runs once
    per vocabulary term on the O(vocab) relation, never per class
    row; the final top-k is one window pass per class partition.
    Ranking doubles are products of exact ints with a shared per-term
    idf — bitwise comparable, ties broken by term.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(_tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ft = tf.groupBy("term").agg(F.sum("c").cast("long").alias("ftot"))
    nc = tf.agg(
        F.sum("c").cast("long").alias("total_tok"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    ln = _ln_libm()
    idf = ft.crossJoin(F.broadcast(nc)).select(
        "term",
        ln(
            F.lit(1.0)
            + (F.col("total_tok").cast("double") / F.col("n_langs"))
            / F.col("ftot")
        ).alias("idf"),
    )
    scored = (
        tf.filter(F.col("c") >= _CTFIDF_MIN_C)
        .join(idf, "term")
        .select(
            "lang",
            "term",
            (F.col("c").cast("double") * F.col("idf")).alias("ctfidf"),
        )
    )
    byl = Window.partitionBy("lang").orderBy(F.desc("ctfidf"), "term")
    return (
        scored.select(
            "lang",
            "term",
            "ctfidf",
            F.row_number().over(byl).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= _CTFIDF_TOPK)
    )


@register(
    "llm_tokenizer_fertility_by_lang",
    oracle=rf"""
    WITH {_SQL_BPE_MERGES},
    seg AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_syms
      FROM v{_BPE_MERGES}
    ),
    dw AS (
      SELECT lang, unnest({_SQL_TOKENS}) AS word FROM documents
    )
    SELECT dw.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(seg.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(seg.n_syms) AS DOUBLE) / COUNT(*) AS fertility
    FROM dw JOIN seg ON seg.word = dw.word
    GROUP BY dw.lang
    """,
)
def llm_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U-EXT: per-LANGUAGE tokenizer fertility — BPE tokens per word
    for each language slice under the corpus-trained merge table. The
    multilingual-fairness report (a language with 2× fertility pays 2×
    the context budget per word and trains on fewer effective
    documents per token); this is the number that decides whether the
    tokenizer or the data mix needs rebalancing BEFORE a run is
    priced. Completes the tokenizer family: train (U9) → inspect
    (U10) → encode (U11) → audit fertility by class (this).

    Scale shape: identical to ``llm_bpe_encode_stats`` — the encode is
    a JOIN of the (lang, word) explode against the O(vocab) segmented
    relation (broadcast while small, AQE decides past the threshold),
    rolled up by language instead of document; the iterative trainer
    runs in ``_bpe_state`` exactly as U9 (word-level state, generated
    unrolled oracle). Fertility is a double ratio of exact ints —
    bitwise cross-engine.
    """
    _, v = _bpe_state(spark, sf_dir)
    seg = v.select("word", F.size("syms").cast("long").alias("n_syms"))
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select("lang", F.explode(_tokens()).alias("word"))
    return (
        dw.join(seg, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            (
                F.col("n_bpe_tokens").cast("double") / F.col("n_words")
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# Round-11 batch 2: contrastive pair mining, SQL-trained naive-Bayes
# language ID
# ---------------------------------------------------------------------------

#: Contrastive-mining geometry: anchors are a FIXED-SIZE batch — the
#: _CP_K rows with the smallest md5(vec_id) (deterministic, uniform,
#: engine-portable: both Spark's md5() and DuckDB's md5() emit
#: lowercase hex over the decimal string) — per anchor keep the single
#: nearest SAME-label vector (positive) and the _CP_NEG nearest
#: DIFFERENT-label vectors (hard negatives). Batch-local top-k inside
#: the Arrow kernel bounds what each task emits. _CP_K is a structural
#: bound: the driver collect and the task-closure anchor matrix are
#: O(K·D) at ANY corpus size (a modulus slice would grow linearly).
_CP_K = 16
_CP_POS = 1
_CP_NEG = 5


@register(
    "llm_contrastive_pairs",
    oracle=rf"""
    WITH a AS (
      SELECT vec_id AS query_id, label AS qlabel, embedding AS qe,
             {_sql_int_dot("embedding", "embedding")} AS nq
      FROM (
        SELECT vec_id, label, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_CP_K}
      )
    ),
    s AS (
      SELECT a.query_id,
             CASE WHEN e.label = a.qlabel THEN 'positive'
                  ELSE 'negative' END AS role,
             e.vec_id,
             CAST({_sql_int_dot("e.embedding", "a.qe")} AS DOUBLE)
               / (sqrt(CAST({_sql_int_dot("e.embedding", "e.embedding")}
                            AS DOUBLE))
                  * sqrt(CAST(a.nq AS DOUBLE))) AS cosine
      FROM embeddings e JOIN a ON e.vec_id <> a.query_id
    ),
    r AS (
      SELECT query_id, role, vec_id, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id, role ORDER BY cosine DESC, vec_id
             ) AS rnk
      FROM s
    )
    SELECT query_id, role, vec_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM r
    WHERE (role = 'positive' AND rnk <= {_CP_POS})
       OR (role = 'negative' AND rnk <= {_CP_NEG})
    """,
)
def llm_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21 EXT: CONTRASTIVE PAIR MINING — for each anchor embedding,
    the nearest same-label vector (positive) and the {_CP_NEG} nearest
    different-label vectors (HARD negatives, the ones closest to the
    decision boundary). This is the batch-mining step behind
    contrastive / triplet embedding training (SimCLR/SBERT-style hard
    negative mining): random negatives are trivially separable, the
    nearest wrong-label ones carry the gradient.

    Scale shape: the anchor slice is the mining BATCH — the ``_CP_K``
    rows with the smallest ``md5(vec_id)`` (a distributed TakeOrdered;
    the driver collect is O(K·D) REGARDLESS of corpus size, the F53
    reservoir discipline) — and ships executor-side
    as one int64 matrix inside an Arrow ``mapInPandas`` kernel — the
    covariance-family discipline: scoring a candidate batch against
    ALL anchors is ONE (B×D)·(D×A) integer matmul, not B·A
    expression-tree dot products (the zip_with/aggregate form
    measured 7.5 s at sf0.1; this kernel is ~10×). Each batch emits
    only its LOCAL top-k per (anchor, role) — a correct prefilter
    (any global top-k row is top-k within its own batch) that bounds
    kernel output at k rows per (anchor, role, batch) — and one exact
    window ranks the survivors. Cosines are IEEE doubles from exact
    int64 sums with the same op order as the oracle — bitwise
    cross-engine, deterministic tie-break.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    sv_expr = F.transform("embedding", lambda x: _iscale(x)).alias("sv")
    out_schema = "query_id long, role string, vec_id long, cosine double"
    a_rows = (
        emb.select(
            "vec_id",
            "label",
            sv_expr,
            F.md5(F.col("vec_id").cast("string")).alias("hk"),
        )
        .orderBy("hk", "vec_id")
        .limit(_CP_K)
        .collect()
    )
    if not a_rows:
        # empty corpus: a 0-row anchor matrix would crash `X @ A.T`
        # inside the kernel — short-circuit with the final schema.
        return spark.createDataFrame([], out_schema + ", rnk long")
    A = np.array([list(r["sv"]) for r in a_rows], dtype=np.int64)
    a_ids = np.array([r["vec_id"] for r in a_rows], dtype=np.int64)
    a_lab = np.array([r["label"] for r in a_rows], dtype=np.int64)
    a_norm = (A * A).sum(axis=1)
    k_pos, k_neg = _CP_POS, _CP_NEG

    def mine(batches):
        import numpy as np  # noqa: F811 — executor-side import

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["sv"].tolist(), dtype=np.int64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labs = pdf["label"].to_numpy(dtype=np.int64)
            na = (X * X).sum(axis=1)
            dots = X @ A.T  # exact: |sum| << 2^63, and < 2^53 per dot
            cos = dots.astype(np.float64) / (
                np.sqrt(na.astype(np.float64))[:, None]
                * np.sqrt(a_norm.astype(np.float64))[None, :]
            )
            out_q, out_role, out_v, out_c = [], [], [], []
            for j in range(len(a_ids)):
                keep = ids != a_ids[j]
                same = (labs == a_lab[j]) & keep
                for role, mask, k in (
                    ("positive", same, k_pos),
                    ("negative", ~same & keep, k_neg),
                ):
                    vi = np.nonzero(mask)[0]
                    if len(vi) == 0:
                        continue
                    # batch-local top-k by (cosine DESC, vec_id ASC):
                    # lexsort's LAST key is primary
                    order = np.lexsort((ids[vi], -cos[vi, j]))[:k]
                    sel = vi[order]
                    out_q.extend([a_ids[j]] * len(sel))
                    out_role.extend([role] * len(sel))
                    out_v.extend(ids[sel])
                    out_c.extend(cos[sel, j])
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "role": out_role,
                    "vec_id": np.array(out_v, dtype=np.int64),
                    "cosine": np.array(out_c, dtype=np.float64),
                }
            )

    survivors = emb.select("vec_id", "label", sv_expr).mapInPandas(
        mine, out_schema
    )
    k_for = F.when(F.col("role") == "positive", F.lit(_CP_POS)).otherwise(
        F.lit(_CP_NEG)
    )
    final = Window.partitionBy("query_id", "role").orderBy(
        F.desc("cosine"), "vec_id"
    )
    return (
        survivors.select(
            "query_id",
            "role",
            "vec_id",
            "cosine",
            F.row_number().over(final).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= k_for)
    )


#: Naive-Bayes language ID: hashed-unigram buckets (md5 prefix → 256
#: buckets), train on the complement of the held-out slice, add-one
#: smoothing over the full observed bucket domain, integer micro-nat
#: log-probabilities so every per-doc score is an exact int64 sum.
_NB_MOD, _NB_REM = 5, 0
_NB_PREF = 2
_NB_BUCKETS = 16 ** _NB_PREF


@register(
    "llm_nb_langid",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, lang, substr(md5(term), 1, {_NB_PREF}) AS b
      FROM (
        SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS term FROM documents
      )
    ),
    train AS (SELECT * FROM tok WHERE doc_id % {_NB_MOD} <> {_NB_REM}),
    heldout AS (SELECT * FROM tok WHERE doc_id % {_NB_MOD} = {_NB_REM}),
    dom AS (SELECT DISTINCT b FROM tok),
    langs AS (SELECT DISTINCT lang FROM train),
    cnt AS (SELECT lang, b, COUNT(*) AS c FROM train GROUP BY lang, b),
    tot AS (SELECT lang, COUNT(*) AS t FROM train GROUP BY lang),
    w AS (
      SELECT langs.lang, dom.b,
             CAST(floor(ln(CAST(COALESCE(cnt.c, 0) + 1 AS DOUBLE)
                           / CAST(tot.t + {_NB_BUCKETS} AS DOUBLE))
                        * 1000000) AS BIGINT) AS lp_fp
      FROM langs CROSS JOIN dom
      JOIN tot ON tot.lang = langs.lang
      LEFT JOIN cnt ON cnt.lang = langs.lang AND cnt.b = dom.b
    ),
    dc AS (
      SELECT doc_id, lang AS true_lang, b, COUNT(*) AS c
      FROM heldout GROUP BY doc_id, lang, b
    ),
    scores AS (
      SELECT dc.doc_id, dc.true_lang, w.lang AS cand_lang,
             SUM(dc.c * w.lp_fp) AS score_fp
      FROM dc JOIN w ON w.b = dc.b
      GROUP BY dc.doc_id, dc.true_lang, w.lang
    ),
    ranked AS (
      SELECT doc_id, true_lang, cand_lang, score_fp,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score_fp DESC, cand_lang
             ) AS rn
      FROM scores
    )
    SELECT doc_id, true_lang, cand_lang AS pred_lang,
           CAST(score_fp AS BIGINT) AS score_fp,
           (cand_lang = true_lang) AS correct
    FROM ranked WHERE rn = 1
    """,
)
def llm_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: multinomial NAIVE BAYES language ID, trained and applied
    entirely as SQL aggregates (the fastText-linear-classifier shape
    without model files): hashed-unigram bucket likelihoods learned on
    the 4/5 train slice, argmax posterior on the held-out 1/5 — the
    supervised upgrade of the F20 stopword heuristic, evaluated
    against the corpus's own labels (per-doc correct flag; the
    confusion rollup is one GROUP BY away). Uniform class priors:
    argmax is over per-class likelihood sums.

    Scale shape: the MODEL is O(langs × {_NB_BUCKETS}) — learned in
    one hash aggregate over the train slice and BROADCAST to scoring
    at any corpus size; scoring is one (doc, bucket) aggregate + one
    ≤langs-per-doc argmax window. Cross-engine exactness: bucket
    log-likelihoods are floored to integer micro-nats (libm ``ln`` on
    the tiny weight relation — the DSIR/surprisal discipline), so
    every posterior is an exact int64 sum and the (score DESC, lang)
    argmax is deterministic on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The tokenize + md5-bucket stream feeds FIVE subtrees (bucket
    # domain, lang axis, train counts, train totals, held-out counts);
    # materialize it once. The per-lang total DERIVES from the
    # O(langs×buckets) count relation instead of a second train pass.
    #
    # Examined and REVERTED (r18): collapsing the five consumers onto
    # one (doc, lang, bucket) COUNT aggregate measured faster in clean
    # sessions (2.7 s vs 4.9 s) but built a ~0.75M-group hash aggregate
    # over the full token stream whose heap wake slowed every
    # SUBSEQUENT query in a warm shared session by 1.5-2× (sequence
    # A/B: the next four queries' total 4.8 s with this r17 shape,
    # 9.4-10.3 s with either count-grain variant) — a net loss for the
    # 304-query warm bench the driver runs. The token-stream
    # materialization is the cheaper citizen of a long session.
    tok = pin(
        fan_out_if_narrow(
            docs.select("doc_id", "lang", F.explode(_tokens()).alias("term"))
        ).select(
            "doc_id",
            "lang",
            F.substring(F.md5("term"), 1, _NB_PREF).alias("b"),
        )
    )
    is_held = (F.col("doc_id") % _NB_MOD) == _NB_REM
    train = tok.filter(~is_held)
    heldout = tok.filter(is_held)
    dom = tok.select("b").distinct()
    langs = train.select("lang").distinct()
    # feeds the grid + totals
    cnt = pin(
        train.groupBy("lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("t"))
    ln = _ln_libm()
    w = (
        langs.crossJoin(dom)
        .join(tot, "lang")
        .join(cnt, ["lang", "b"], "left")
        .select(
            "lang",
            "b",
            F.floor(
                ln(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("t") + _NB_BUCKETS).cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("lp_fp"),
        )
    )
    dc = heldout.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "b"
    ).agg(F.count(F.lit(1)).alias("c"))
    scores = (
        dc.join(F.broadcast(w.withColumnRenamed("lang", "cand_lang")), "b")
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.sum(F.col("c") * F.col("lp_fp")).alias("score_fp"))
    )
    byd = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), "cand_lang"
    )
    return (
        scores.withColumn("rn", F.row_number().over(byd))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("cand_lang").alias("pred_lang"),
            F.col("score_fp").cast("long").alias("score_fp"),
            (F.col("cand_lang") == F.col("true_lang")).alias("correct"),
        )
    )


#: SQ8 scalar quantization: per-DIMENSION min/max over the corpus,
#: 256 levels, mid-rise reconstruction. All arithmetic in the shared
#: _FP fixed-point domain so codes and reconstruction errors are
#: exact integers on both engines.
_SQ8_LEVELS = 256
_SQ8_TOPK = 20


@register(
    "llm_embedding_sq8_error",
    oracle=rf"""
    WITH s AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> {_SQL_ISCALE.format(v="x")}) AS sv
      FROM embeddings
    ),
    dims AS (
      SELECT d, MIN(sv[d]) AS mn, MAX(sv[d]) AS mx
      FROM s, range(1, 65) r(d)
      GROUP BY d
    ),
    packed AS (
      SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
      FROM dims
    ),
    coded AS (
      SELECT vec_id, label,
             list_transform(range(1, 65), d ->
               CASE WHEN mxs[d] = mns[d] THEN 0
                    ELSE LEAST({_SQ8_LEVELS - 1},
                               ((sv[d] - mns[d]) * {_SQ8_LEVELS})
                                 // (mxs[d] - mns[d]))
               END) AS codes,
             sv, mns, mxs
      FROM s CROSS JOIN packed
    ),
    errs AS (
      SELECT vec_id, label,
             list_aggregate(
               list_transform(range(1, 65), d ->
                 CAST(sv[d] - CASE WHEN mxs[d] = mns[d] THEN mns[d]
                      ELSE mns[d] + ((2 * codes[d] + 1)
                                     * (mxs[d] - mns[d]))
                                    // {2 * _SQ8_LEVELS}
                      END AS BIGINT)
                 * CAST(sv[d] - CASE WHEN mxs[d] = mns[d] THEN mns[d]
                      ELSE mns[d] + ((2 * codes[d] + 1)
                                     * (mxs[d] - mns[d]))
                                    // {2 * _SQ8_LEVELS}
                      END AS BIGINT)),
               'sum') AS se_fp
      FROM coded
    )
    SELECT vec_id, label,
           CAST(se_fp AS BIGINT) AS se_fp,
           CAST(se_fp AS DOUBLE) / (64.0 * {_FP} * {_FP}) AS mse
    FROM errs
    ORDER BY se_fp DESC, vec_id
    LIMIT {_SQ8_TOPK}
    """,
)
def llm_embedding_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: SQ8 scalar quantization AUDIT — encode every embedding
    with per-dimension 8-bit uniform quantizers (corpus min/max, the
    FAISS ``SQ8`` layout) and report the {_SQ8_TOPK} worst-reconstructed
    vectors by exact squared error. Completes the vector-codec family
    (PQ / IVF / IVF-PQ / SQ8): SQ8 is the 4×-compression layout you
    pick when PQ's distortion is too high, and this report is the
    accept/reject audit — outlier vectors that saturate a dimension's
    range are exactly the ones a per-dim quantizer serves worst.

    Scale shape: the quantizer is a 64-row (dim, min, max) aggregate
    packed into ONE broadcast row; encode + reconstruct + error are a
    single map stage over one corpus scan (array expressions, no
    explode survives the aggregate); the top-k is a TakeOrdered of K
    rows. Cross-engine exactness: everything happens in the shared
    ``_FP`` fixed-point domain — codes are integer floor-divisions,
    mid-rise reconstruction is integer arithmetic, and the squared
    error is an exact int64 sum (the double MSE divides at output
    only).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: _iscale(x)).alias("sv"),
    )
    dims = (
        s.select(F.posexplode("sv").alias("d0", "v"))
        .groupBy((F.col("d0") + 1).alias("d"))
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    packed = dims.agg(
        F.array_sort(
            F.collect_list(F.struct("d", "mn", "mx"))
        ).alias("dmm")
    ).select(
        F.transform("dmm", lambda x: x["mn"]).alias("mns"),
        F.transform("dmm", lambda x: x["mx"]).alias("mxs"),
    )
    # integer floor-division is `div` on both engines; element_at is
    # the 1-based accessor mirroring DuckDB's list[d] (Spark's arr[d]
    # is 0-based and must not appear here)
    code_d = (
        "CASE WHEN element_at(mxs, d) = element_at(mns, d) "
        "THEN CAST(0 AS BIGINT) "
        f"ELSE LEAST(CAST({_SQ8_LEVELS - 1} AS BIGINT), "
        f"((element_at(sv, d) - element_at(mns, d)) * {_SQ8_LEVELS}) "
        "div (element_at(mxs, d) - element_at(mns, d))) END"
    )
    recon_d = (
        "CASE WHEN element_at(mxs, d) = element_at(mns, d) "
        "THEN element_at(mns, d) "
        f"ELSE element_at(mns, d) + ((2 * ({code_d}) + 1) "
        "* (element_at(mxs, d) - element_at(mns, d))) "
        f"div {2 * _SQ8_LEVELS} END"
    )
    se_expr = F.expr(
        "aggregate(transform(sequence(1, size(sv)), d -> "
        f"CAST(element_at(sv, d) - ({recon_d}) AS BIGINT) "
        f"* CAST(element_at(sv, d) - ({recon_d}) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    errs = s.crossJoin(F.broadcast(packed)).select(
        "vec_id", "label", se_expr.alias("se_fp")
    )
    return (
        errs.select(
            "vec_id",
            "label",
            F.col("se_fp").cast("long").alias("se_fp"),
            (
                F.col("se_fp").cast("double")
                / F.lit(64.0 * _FP * _FP)
            ).alias("mse"),
        )
        .orderBy(F.desc("se_fp"), "vec_id")
        .limit(_SQ8_TOPK)
    )


#: Cross-source overlap fingerprint: the first _XSRC_PREFIX chars of
#: the canonical (lowercased, whitespace-collapsed) text — the
#: prefix-fingerprint dedup family's key, which catches re-served
#: content whose tails diverge (ads, footers) where the full-text
#: exact key goes vacuously empty.
_XSRC_PREFIX = 40


@register(
    "llm_cross_source_overlap",
    oracle=rf"""
    WITH keyed AS (
      SELECT DISTINCT source,
             md5(substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                        1, {_XSRC_PREFIX})) AS k
      FROM documents
    ),
    src_sizes AS (
      SELECT source, COUNT(*) AS n_keys FROM keyed GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(COUNT(*) AS DOUBLE) / LEAST(sa.n_keys, sb.n_keys)
             AS overlap_coeff
    FROM keyed a
    JOIN keyed b ON a.k = b.k AND a.source < b.source
    JOIN src_sizes sa ON sa.source = a.source
    JOIN src_sizes sb ON sb.source = b.source
    GROUP BY a.source, b.source, sa.n_keys, sb.n_keys
    """,
)
def llm_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 EXT: CROSS-SOURCE overlap matrix — for every source pair,
    how many canonical content-PREFIX fingerprints (first
    {_XSRC_PREFIX} canonical chars — the prefix-dedup family's key,
    robust to diverging tails) they share, and the overlap coefficient
    |A∩B|/min(|A|,|B|). The crawl-triage diagnostic every
    multi-source curation run starts with: two crawls with high
    overlap are re-serving each other's content, and the smaller one
    adds little beyond its unique slice — this decides which sources
    to drop BEFORE paying full pairwise dedup.

    Scale shape: documents reduce to DISTINCT (source, 128-bit key)
    rows — the text never shuffles; the pair stage is a key-equi
    self-join whose per-key fanout is bounded by the SOURCE COUNT
    (≤ S rows per key, so worst case S² per key, with S a handful —
    never corpus-quadratic); the matrix is an O(S²) aggregate joined
    to the O(S) size relation. Integer counts and one double ratio —
    bitwise cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "source",
        F.md5(
            F.substring(
                F.regexp_replace(
                    F.trim(F.lower(F.col("text"))), r"\s+", " "
                ),
                1,
                _XSRC_PREFIX,
            )
        ).alias("k"),
    ).distinct()
    sizes = keyed.groupBy("source").agg(F.count(F.lit(1)).alias("n_keys"))
    a = keyed.alias("a")
    b = keyed.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_keys").alias("na")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_keys").alias("nb")
    )
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("na"), F.col("nb"))
            ).alias("overlap_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Round-11 batch 3: per-source boilerplate detection, JL random-projection
# audit, segment-level code-switch detection
# ---------------------------------------------------------------------------

#: A sentence is boilerplate within its source iff it appears in at
#: least this many distinct documents AND in at least 1/_BOILER_DENOM
#: of the source's documents (integer cross-multiplied — no float
#: threshold compare anywhere near the gate).
_BOILER_MIN_DOCS = 2
_BOILER_DENOM = 4


@register(
    "llm_boilerplate_sentences",
    oracle=rf"""
    WITH sent AS (
      SELECT DISTINCT doc_id, source, md5(s) AS k, len(s) AS chars
      FROM (
        SELECT doc_id, source, trim(f) AS s
        FROM (
          SELECT doc_id, source,
                 unnest(string_split_regex(lower(text), '[.!?]+')) AS f
          FROM documents
        )
      )
      WHERE len(s) >= {_SENT_MIN_CHARS}
    ),
    freq AS (
      SELECT source, k, COUNT(*) AS n_docs
      FROM sent GROUP BY source, k
    ),
    srcsize AS (
      SELECT source, COUNT(DISTINCT doc_id) AS src_docs
      FROM sent GROUP BY source
    )
    SELECT s.doc_id, s.source,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(CASE WHEN f.n_docs >= {_BOILER_MIN_DOCS}
                          AND f.n_docs * {_BOILER_DENOM} >= z.src_docs
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler_sentences,
           CAST(SUM(s.chars) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN f.n_docs >= {_BOILER_MIN_DOCS}
                          AND f.n_docs * {_BOILER_DENOM} >= z.src_docs
                         THEN 0 ELSE s.chars END) AS BIGINT)
             AS chars_kept
    FROM sent s
    JOIN freq f ON f.source = s.source AND f.k = s.k
    JOIN srcsize z ON z.source = s.source
    GROUP BY s.doc_id, s.source
    """,
)
def llm_boilerplate_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: CCNet-style PER-SOURCE boilerplate detection — a sentence
    that recurs across a large fraction of one source's documents
    (nav chrome, cookie banners, license footers) is boilerplate for
    that source, and the per-document report (sentences flagged, chars
    kept after removal) is the cleaning plan a crawl-curation pass
    executes. Differs from ``llm_sentence_dedup_fraction``: the gate is
    source-relative frequency (>= 1/4 of the source's docs AND
    >= 2 docs), not corpus-wide >=2-doc duplication — a quote
    shared by two articles is NOT boilerplate here.

    Scale shape: sentences shuffle as (source, md5) key pairs with a
    char-length int — never text. One DISTINCT, one (source, key)
    count with map-side partial combine, one per-source doc count
    (broadcast back: #sources rows), one key join against the same
    hashed relation. The frequency gate is integer cross-multiplied
    (``n_docs * 4 >= src_docs``) so the boiler/keep split is exact
    on both engines. At 100 TB each source's sentence keys spread over
    the full cluster — no per-source partition is ever materialized.
    """
    docs = load_table(spark, sf_dir, "documents")
    sent = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.lower(F.col("text")), r"[.!?]+")).alias("f"),
        )
        .select("doc_id", "source", F.trim(F.col("f")).alias("s"))
        .filter(F.length("s") >= _SENT_MIN_CHARS)
        .select(
            "doc_id",
            "source",
            F.md5("s").alias("k"),
            F.length("s").alias("chars"),
        )
        .distinct()
    )
    freq = sent.groupBy("source", "k").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    srcsize = sent.groupBy("source").agg(
        F.countDistinct("doc_id").alias("src_docs")
    )
    boiler = (F.col("n_docs") >= _BOILER_MIN_DOCS) & (
        F.col("n_docs") * _BOILER_DENOM >= F.col("src_docs")
    )
    return (
        sent.join(freq, ["source", "k"])
        .join(F.broadcast(srcsize), "source")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum(boiler.cast("int")).cast("long").alias("n_boiler_sentences"),
            F.sum("chars").cast("long").alias("chars_total"),
            F.sum(F.when(boiler, F.lit(0)).otherwise(F.col("chars")))
            .cast("long")
            .alias("chars_kept"),
        )
        .select(
            "doc_id",
            "source",
            "n_sentences",
            "n_boiler_sentences",
            "chars_total",
            "chars_kept",
        )
    )


#: Johnson-Lindenstrauss audit geometry: project the 64-d embeddings
#: onto _JL_K Rademacher (±1) directions and measure squared-distance
#: distortion on the consecutive-id pair sample. The sign matrix is
#: derived from md5 so both engines (and any future rebuild) agree on
#: it without shipping state: sign(d, k) = +1 iff the first hex char
#: of md5("{d}_{k}") has even parity.
_JL_K = 16
_JL_DIM = 64


def _jl_signs() -> list[list[int]]:
    import hashlib

    even = set("02468ace")
    return [
        [
            1
            if hashlib.md5(f"{d}_{k}".encode()).hexdigest()[0] in even
            else -1
            for d in range(_JL_DIM)
        ]
        for k in range(_JL_K)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    iscale = _SQL_ISCALE.format(v="x[1]")
    projs = ",\n           ".join(
        f"CAST(list_sum(list_transform(list_zip(embedding, "
        f"{signs[k]}), x -> {iscale} * x[2])) AS BIGINT) AS p{k}"
        for k in range(_JL_K)
    )
    da = _SQL_ISCALE.format(v="x[1]")
    db = _SQL_ISCALE.format(v="x[2]")
    proj_d2 = " + ".join(
        f"(a.p{k} - b.p{k}) * (a.p{k} - b.p{k})" for k in range(_JL_K)
    )
    return rf"""
    WITH p AS (
      SELECT vec_id, embedding,
           {projs}
      FROM embeddings
    )
    SELECT vec_id_a, vec_id_b, orig_d2, proj_d2,
           CAST(proj_d2 AS DOUBLE) / {_JL_K} / CAST(orig_d2 AS DOUBLE)
             AS distortion
    FROM (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             CAST(list_sum(list_transform(
               list_zip(a.embedding, b.embedding),
               x -> ({da} - {db}) * ({da} - {db}))) AS BIGINT) AS orig_d2,
             {proj_d2} AS proj_d2
      FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
    )
    WHERE orig_d2 > 0
    """


@register("llm_jl_projection_audit", oracle=_jl_oracle())
def llm_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: JOHNSON-LINDENSTRAUSS random-projection audit, completing
    the vector-codec family (PQ subspace codes, IVF-PQ, SQ8 scalar
    quantization, now dense dimensionality reduction): project each
    embedding onto ``_JL_K`` Rademacher ±1 directions and report, for
    the consecutive-id pair sample, the squared-distance distortion
    ``(proj_d2 / K) / orig_d2`` — the quantity the JL lemma bounds and
    the number that decides whether a 4× cheaper index preserves
    neighborhood structure.

    Float parity: components quantize through the engine-standard
    ``_iscale`` fixed point, projections are exact int64 sign-sums
    (order-independent — a ±1 matmul needs no float accumulation at
    all), both squared distances are exact int64, and the one double
    division at the end is bitwise-reproducible IEEE-754 on equal
    inputs. The sign matrix is md5-derived (see ``_jl_signs``) so the
    Spark literal and the oracle's inlined lists are provably the same
    bits with no shared state.

    Scale shape: the projection is a per-row map (K=16 zip_with folds
    inside whole-stage codegen, no shuffle, computed ONCE per row); the
    consecutive-id pair sample reunites through one hash agg on the
    pair id (each row plays both pair roles), linear in the corpus,
    and at 100 TB the natural choice is id-range bucketing so
    consecutive ids co-locate and the exchange vanishes.
    A full-pair audit would be quadratic by construction; the
    consecutive sample is the standard unbiased stand-in (ids carry no
    geometric order).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    signs = _jl_signs()
    # Quantize ONCE per row — the 16 projection folds and the distance
    # fold all reuse the same int64 array, so the decimal fixed-point
    # cast runs 64 times per row, not 16x64
    q = emb.select(
        "vec_id", F.transform(F.col("embedding"), _iscale).alias("q")
    )
    proj_cols = [
        _long_sum(
            F.zip_with(
                F.col("q"),
                F.array(*[F.lit(s) for s in signs[k]]),
                lambda x, s: x * s,
            )
        ).alias(f"p{k}")
        for k in range(_JL_K)
    ]
    p = q.select("vec_id", "q", *proj_cols)
    # Pair formation WITHOUT the self-join: the join recomputed the
    # whole encode subtree (64 fixed-point casts + 16 projection folds
    # per row) once per side and shuffled twice. Instead each encoded
    # row plays both roles of the consecutive-id pair — role 0 of pair
    # vec_id, role 1 of pair vec_id−1 — and ONE hash agg on the pair id
    # reunites them: encode runs once, one Exchange instead of two.
    v = F.struct("vec_id", "q", *[f"p{k}" for k in range(_JL_K)])
    sides = p.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id").alias("pid"), F.lit(0).alias("role")
                ),
                F.struct(
                    (F.col("vec_id") - 1).alias("pid"),
                    F.lit(1).alias("role"),
                ),
            )
        ).alias("r"),
        v.alias("v"),
    )
    pairs = (
        sides.groupBy(F.col("r.pid").alias("pid"))
        .agg(
            F.max(F.when(F.col("r.role") == 0, F.col("v"))).alias("a"),
            F.max(F.when(F.col("r.role") == 1, F.col("v"))).alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    orig_d2 = _sq_dist(F.col("a.q"), F.col("b.q"))
    proj_d2 = None
    for k in range(_JL_K):
        term = (F.col(f"a.p{k}") - F.col(f"b.p{k}")) * (
            F.col(f"a.p{k}") - F.col(f"b.p{k}")
        )
        proj_d2 = term if proj_d2 is None else proj_d2 + term
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            orig_d2.alias("orig_d2"),
            proj_d2.alias("proj_d2"),
        )
        .filter(F.col("orig_d2") > 0)
        .select(
            "vec_id_a",
            "vec_id_b",
            "orig_d2",
            "proj_d2",
            (
                F.col("proj_d2").cast("double")
                / F.lit(_JL_K)
                / F.col("orig_d2").cast("double")
            ).alias("distortion"),
        )
    )

#: A document is code-switch-flagged when its majority language holds
#: less than 4/5 of its classified segments (integer cross-multiplied:
#: ``major_cnt * 5 < n_segments * 4`` — no float threshold compare).
_MIXED_NUM = 4
_MIXED_DENOM = 5


def _code_switch_oracle() -> str:
    hits = ", ".join(
        f"{_sql_hits(lang)} AS {lang}" for lang in ("en", "de", "fr", "es")
    )
    return rf"""
    WITH sent AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, trim(f) AS s
        FROM (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '[.!?]+')) AS f
          FROM documents
        )
      )
      WHERE len(s) >= {_SENT_MIN_CHARS}
    ),
    seg AS (
      SELECT doc_id,
             CASE
               WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'unknown'
               WHEN en >= de AND en >= fr AND en >= es THEN 'en'
               WHEN de >= fr AND de >= es THEN 'de'
               WHEN fr >= es THEN 'fr'
               ELSE 'es'
             END AS predicted
      FROM (
        SELECT doc_id, {hits}
        FROM (
          SELECT doc_id, string_split_regex(s, '\s+') AS t FROM sent
        )
      )
    ),
    cnt AS (
      SELECT doc_id, predicted, COUNT(*) AS c
      FROM seg WHERE predicted <> 'unknown'
      GROUP BY doc_id, predicted
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_segments,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM cnt GROUP BY doc_id
    ),
    major AS (
      SELECT doc_id, predicted AS major_lang, c,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, predicted
             ) AS rn
      FROM cnt
    )
    SELECT t.doc_id, t.n_segments, t.n_langs, m.major_lang,
           CAST(m.c AS DOUBLE) / t.n_segments AS major_frac,
           m.c * {_MIXED_DENOM} < t.n_segments * {_MIXED_NUM} AS is_mixed
    FROM tot t JOIN major m ON m.doc_id = t.doc_id AND m.rn = 1
    """


@register("llm_code_switch_docs", oracle=_code_switch_oracle())
def llm_code_switch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 EXT: CODE-SWITCH detection — run the stopword-lexicon
    language classifier (``llm_langid_stopword``'s exact decision rule)
    at SEGMENT grain and report each document's language composition:
    classified-segment count, distinct languages seen, the majority
    language with its fraction, and a mixed flag when the majority
    holds under 4/5 of segments. Mixed-language documents break
    monolingual tokenizer/dedup assumptions and are routed to their
    own pipeline branch in practice; document-grain langid (one label
    per doc) cannot see them by construction.

    Scale shape: segment classification is a per-row array expression
    (no shuffle); the composition rolls up through one
    (doc_id, predicted) hash aggregate with map-side combine — at most
    4 rows per doc reach the per-doc stage, so the majority argmax
    window runs on an O(docs) relation with bounded partitions. The
    mixed gate is integer cross-multiplied; the only double is the
    reported fraction (exact-int division, bitwise cross-engine).
    """
    docs = load_table(spark, sf_dir, "documents")
    # r18 (VERDICT #8, guide §2.6): the sentence split + four
    # higher-order lexicon scans are pure per-row CPU in the SCAN
    # stage — parallelism = the documents parquet split count (one
    # split at bench SF; the query scaled 0.88× from 8→32 cores
    # because a single task did all the classifying). Fan the raw doc
    # rows out to cluster width first; no-op once the scan is wide.
    sent = (
        fan_out_if_narrow(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"[.!?]+")).alias("f"),
        )
        .select("doc_id", F.trim(F.col("f")).alias("s"))
        .filter(F.length("s") >= _SENT_MIN_CHARS)
    )
    tok = sent.select("doc_id", F.split("s", r"\s+").alias("t"))
    t = F.col("t")
    def _lex_hits(words: tuple[str, ...]) -> Column:
        # factory (not a default-arg lambda): higher-order-function
        # lambdas must be unary — an extra parameter would be bound to
        # the element index by PySpark
        return F.size(F.filter(t, lambda x: x.isin(*words)))

    hits = {lang: _lex_hits(words) for lang, words in _LEXICONS.items()}
    en, de, fr, es = hits["en"], hits["de"], hits["fr"], hits["es"]
    predicted = (
        F.when((en == 0) & (de == 0) & (fr == 0) & (es == 0), F.lit("unknown"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    seg = tok.select("doc_id", predicted.alias("predicted")).filter(
        F.col("predicted") != "unknown"
    )
    cnt = seg.groupBy("doc_id", "predicted").agg(F.count(F.lit(1)).alias("c"))
    # Examined and REVERTED (r18): collapsing tot+major into window
    # aggregates over one doc_id partition (the substring-family trick)
    # deduplicates the classify subtree but plans a WindowExec SORT of
    # the (doc, lang) counts — clean-session A/B 1.74 s windowed vs
    # 1.02-1.25 s for this two-hash-agg + broadcast-join form at sf0.1,
    # 32 cores. The duplicated subtree is the cheaper side of that
    # trade here because ≤4 rows per doc survive the first aggregate.
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_segments"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("predicted"))
    major = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("predicted").alias("major_lang"), "c")
    )
    return tot.join(major, "doc_id").select(
        "doc_id",
        "n_segments",
        "n_langs",
        "major_lang",
        (F.col("c").cast("double") / F.col("n_segments")).alias("major_frac"),
        (F.col("c") * _MIXED_DENOM < F.col("n_segments") * _MIXED_NUM).alias(
            "is_mixed"
        ),
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-truncation audit (F-EXT, round 11 batch 4)
# ---------------------------------------------------------------------------

#: Prefix lengths audited by the Matryoshka truncation report. Each k
#: is a candidate "cheap index" dimensionality; retained_k answers how
#: much of the full-vector squared distance the first k dims carry.
_MATRYOSHKA_KS = (8, 16, 32)


def _matryoshka_oracle() -> str:
    iscale_a = _SQL_ISCALE.format(v="x[1]")
    iscale_b = _SQL_ISCALE.format(v="x[2]")
    d2 = (
        "CAST(list_sum(list_transform(list_zip({ea}, {eb}), "
        f"x -> ({iscale_a} - {iscale_b}) * ({iscale_a} - {iscale_b})"
        ")) AS BIGINT)"
    )
    trunc_cols = ",\n             ".join(
        d2.format(ea=f"a.embedding[1:{k}]", eb=f"b.embedding[1:{k}]")
        + f" AS d2_k{k}"
        for k in _MATRYOSHKA_KS
    )
    retained = ",\n           ".join(
        f"CAST(d2_k{k} AS DOUBLE) / CAST(orig_d2 AS DOUBLE) AS retained_k{k}"
        for k in _MATRYOSHKA_KS
    )
    ks = ", ".join(f"d2_k{k}" for k in _MATRYOSHKA_KS)
    return rf"""
    SELECT vec_id_a, vec_id_b, orig_d2, {ks},
           {retained}
    FROM (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             {d2.format(ea="a.embedding", eb="b.embedding")} AS orig_d2,
             {trunc_cols}
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    )
    WHERE orig_d2 > 0
    """


@register("llm_matryoshka_audit", oracle=_matryoshka_oracle())
def llm_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: MATRYOSHKA prefix-truncation audit — the dimensionality-
    reduction twin of ``llm_jl_projection_audit`` for embeddings whose
    training front-loads information into the leading dims (MRL,
    Kusupati et al. 2022): for each consecutive-id pair, the fraction
    of full-vector squared distance retained by the first k ∈ {8,16,32}
    dimensions. A corpus whose retained_k32 is ~1.0 can serve ANN from
    a 2x-cheaper prefix index with no re-embedding; a flat profile says
    truncation is unsafe and JL projection / PQ is the right codec.

    Float parity: components quantize once per row through the
    engine-standard ``_iscale`` fixed point; every prefix distance is
    an exact int64 sum of nonneg terms (so retained_k is monotone in k
    by construction — pinned in tests); the double divisions at the
    end are bitwise-reproducible on equal inputs.

    Scale shape: one scan, per-row quantize + three prefix folds inside
    whole-stage codegen, and the same linear ``vec_id + 1`` equi-join
    as the JL audit (id-range bucketing makes the exchange vanish at
    100 TB). No quadratic pair step anywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.transform(F.col("embedding"), _iscale).alias("q")
    )
    a = q.alias("a")
    b = q.alias("b")
    trunc = [
        _sq_dist(
            F.slice(F.col("a.q"), 1, k), F.slice(F.col("b.q"), 1, k)
        ).alias(f"d2_k{k}")
        for k in _MATRYOSHKA_KS
    ]
    pairs = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            _sq_dist(F.col("a.q"), F.col("b.q")).alias("orig_d2"),
            *trunc,
        )
        .filter(F.col("orig_d2") > 0)
    )
    retained = [
        (
            F.col(f"d2_k{k}").cast("double")
            / F.col("orig_d2").cast("double")
        ).alias(f"retained_k{k}")
        for k in _MATRYOSHKA_KS
    ]
    return pairs.select(
        "vec_id_a",
        "vec_id_b",
        "orig_d2",
        *[f"d2_k{k}" for k in _MATRYOSHKA_KS],
        *retained,
    )


# ---------------------------------------------------------------------------
# Temperature-reweighted source mixture (F-EXT, round 11 batch 4)
# ---------------------------------------------------------------------------

#: Sampling temperatures for the mixture planner. Restricted to
#: dyadic roots (T, sqrt(T), sqrt(sqrt(T))) ON PURPOSE: IEEE-754
#: requires sqrt to be correctly rounded, so unlike pow(T, 0.3) the
#: weights are bitwise identical across Spark's JVM and DuckDB's libm.
_MIX_ALPHAS = (1.0, 0.5, 0.25)

#: Token budget the effective-epochs column is quoted against.
_MIX_BUDGET_TOKENS = 1_000_000

#: Weights quantize to integer micro-units before normalization so the
#: per-alpha totals are exact int64 sums (summation-order-proof).
_MIX_WQ = 1_000_000


def _mix_weight_sql(alpha: float) -> str:
    t = "CAST(n_tokens AS DOUBLE)"
    if alpha == 1.0:
        w = t
    elif alpha == 0.5:
        w = f"sqrt({t})"
    elif alpha == 0.25:
        w = f"sqrt(sqrt({t}))"
    else:  # pragma: no cover - guarded by _MIX_ALPHAS
        raise ValueError(f"non-dyadic alpha {alpha}")
    return f"CAST(floor({w} * {_MIX_WQ}) AS BIGINT)"


def _mix_temperature_oracle() -> str:
    arms = "\n      UNION ALL\n".join(
        f"      SELECT source, n_tokens, CAST({a} AS DOUBLE) AS alpha,"
        f" {_mix_weight_sql(a)} AS weight_q FROM s"
        for a in _MIX_ALPHAS
    )
    return rf"""
    WITH s AS (
      SELECT source,
             CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    arms AS (
{arms}
    )
    SELECT source, alpha, n_tokens, weight_q,
           CAST(weight_q AS DOUBLE)
             / CAST(SUM(weight_q) OVER (PARTITION BY alpha) AS DOUBLE)
             AS p,
           CAST(weight_q AS DOUBLE)
             / CAST(SUM(weight_q) OVER (PARTITION BY alpha) AS DOUBLE)
             * {_MIX_BUDGET_TOKENS} / CAST(n_tokens AS DOUBLE)
             AS eff_epochs
    FROM arms
    """


@register("llm_domain_mix_temperature", oracle=_mix_temperature_oracle())
def llm_domain_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: TEMPERATURE-REWEIGHTED source mixture planner — the
    multilingual/multi-domain sampling rule (p_i proportional to
    T_i^alpha; Conneau & Lample 2019, mT5) over per-source token
    counts: for each alpha in {1, 0.5, 0.25}, each source's sampling
    probability and effective epochs at a fixed token budget. Lower
    temperature flattens the mixture — the planner shows exactly how
    many times a small source would repeat before the big ones finish
    one pass, the number that decides the alpha a curation run ships.

    Float parity: alphas are restricted to dyadic roots so the weights
    are single/double sqrt applications — correctly rounded by IEEE
    mandate in BOTH engines, unlike a general pow — then floored to
    integer micro-units; the per-alpha totals are exact int64 window
    sums and the final divisions are bitwise on equal inputs.

    Scale shape: one corpus scan for the token counts (map-side
    combine onto O(sources) keys); everything downstream — the
    three-arm union and the per-alpha window — runs on a relation of
    3 x sources rows, driver-free and broadcast-sized at any corpus
    scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(_tokens())).cast("long").alias("n_tokens")
    )
    t = F.col("n_tokens").cast("double")

    def w(alpha: float):
        if alpha == 1.0:
            return t
        if alpha == 0.5:
            return F.sqrt(t)
        return F.sqrt(F.sqrt(t))

    # One corpus scan: the three temperature arms expand PER ROW of the
    # O(sources) aggregate (explode of a 3-struct array), not as a
    # 3-way union whose branches would each re-run the corpus agg.
    arm = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(alpha).cast("double").alias("alpha"),
                    F.floor(w(alpha) * _MIX_WQ).cast("long").alias("weight_q"),
                )
                for alpha in _MIX_ALPHAS
            ]
        )
    )
    arms = s.select("source", "n_tokens", arm.alias("a")).select(
        "source", "n_tokens", F.col("a.alpha").alias("alpha"),
        F.col("a.weight_q").alias("weight_q"),
    )
    win = Window.partitionBy("alpha")
    p = F.col("weight_q").cast("double") / F.sum("weight_q").over(win).cast(
        "double"
    )
    return arms.select(
        "source",
        "alpha",
        "n_tokens",
        "weight_q",
        p.alias("p"),
        (p * _MIX_BUDGET_TOKENS / F.col("n_tokens").cast("double")).alias(
            "eff_epochs"
        ),
    )


# ---------------------------------------------------------------------------
# Blocklist policy filter (F-EXT, round 11 batch 4)
# ---------------------------------------------------------------------------

#: Deterministic term blocklist (stand-in for the wordlist file a real
#: safety pass broadcasts; terms chosen from the synthetic vocabulary
#: so the policy split exercises all three buckets).
_BLOCKLIST = ("slow", "dup")

#: Policy gates, integer cross-multiplied (no float threshold compare):
#: drop at >= 1/20 flagged-token ratio, review at >= 1/50.
_BLOCK_DROP_DENOM = 20
_BLOCK_REVIEW_DENOM = 50


def _blocklist_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BLOCKLIST)
    return rf"""
    WITH t AS (
      SELECT doc_id, source,
             len({_SQL_TOKENS}) AS n_tok,
             len(list_filter({_SQL_TOKENS},
                             t -> list_contains([{terms}], t))) AS n_flagged
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_flagged AS BIGINT) AS n_flagged,
           CAST(n_flagged AS DOUBLE) / CAST(n_tok AS DOUBLE) AS flag_ratio,
           CASE
             WHEN n_flagged * {_BLOCK_DROP_DENOM} >= n_tok THEN 'drop'
             WHEN n_flagged * {_BLOCK_REVIEW_DENOM} >= n_tok THEN 'review'
             ELSE 'keep'
           END AS policy
    FROM t
    WHERE n_tok > 0
    """


@register("llm_blocklist_policy_filter", oracle=_blocklist_oracle())
def llm_blocklist_policy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: BLOCKLIST POLICY filter — the safety/content-policy pass
    every production corpus runs (UT1/badword lists, domain policies):
    per document, occurrences of blocklisted terms (occurrence COUNT,
    not distinct-term membership — one slur repeated 50 times must
    outscore 50 clean tokens) and a three-way policy decision with
    integer cross-multiplied thresholds: drop at >=1/20 of tokens
    flagged, review at >=1/50, keep otherwise.

    Scale shape: pure per-row map — tokenize, one array filter against
    the broadcast-literal blocklist, two integer compares — inside
    whole-stage codegen; no shuffle, no join, no UDF. A real wordlist
    (thousands of terms) swaps the literal array for a broadcast join
    on token with identical semantics; the plan stays one scan wide.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    block = F.array(*[F.lit(t) for t in _BLOCKLIST])
    t = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tok"),
        F.size(
            F.filter(toks, lambda x: F.array_contains(block, x))
        ).alias("n_flagged"),
    ).filter(F.col("n_tok") > 0)
    return t.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_flagged").cast("long").alias("n_flagged"),
        (
            F.col("n_flagged").cast("double") / F.col("n_tok").cast("double")
        ).alias("flag_ratio"),
        F.when(
            F.col("n_flagged") * _BLOCK_DROP_DENOM >= F.col("n_tok"),
            F.lit("drop"),
        )
        .when(
            F.col("n_flagged") * _BLOCK_REVIEW_DENOM >= F.col("n_tok"),
            F.lit("review"),
        )
        .otherwise(F.lit("keep"))
        .alias("policy"),
    )


# ---------------------------------------------------------------------------
# LSH band-coverage curve (F-EXT, round 11 batch 5)
# ---------------------------------------------------------------------------


def _band_coverage_oracle() -> str:
    return rf"""
    WITH sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    pairfb AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             MIN(a.band_idx) AS first_band
      FROM bands a
      JOIN bsz USING (band_idx, key)
      JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                  AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    perband AS (
      SELECT first_band, CAST(COUNT(*) AS BIGINT) AS new_pairs
      FROM pairfb GROUP BY first_band
    )
    SELECT first_band, new_pairs,
           CAST(SUM(new_pairs) OVER (ORDER BY first_band) AS BIGINT)
             AS cum_pairs,
           CAST(SUM(new_pairs) OVER (ORDER BY first_band) AS DOUBLE)
             / CAST(SUM(new_pairs) OVER () AS DOUBLE) AS coverage_frac
    FROM perband
    """


@register("llm_lsh_band_coverage", oracle=_band_coverage_oracle())
def llm_lsh_band_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: LSH BAND-COVERAGE curve — the measured answer to "how
    many bands does this corpus actually need": for each band index b,
    the candidate pairs whose FIRST co-bucketing band is b (new_pairs),
    the cumulative pairs discoverable from bands 0..b alone, and that
    cumulative count as a fraction of the full 4-band candidate set.
    A curve that saturates by band 1 says the ingest pipeline can halve
    its band storage and shuffle; a flat curve says every band earns
    its keep — the S-curve theory (1-(1-s^r)^b) calibrated on the
    corpus itself, completing the planner pair with
    ``llm_minhash_estimate_calibration`` (which calibrates r, this
    calibrates b).

    Reads the S21 band store (attach-or-build-once): the corpus
    signature pass never runs at query time, bucket assembly is
    exchange-free on the (band_idx, key) bucketing, and everything
    after the per-pair MIN lands on a FOUR-row relation. The oracle
    replays the signature pipeline in SQL — the stored bands are
    bit-identical by the store's write-path contract.

    Scale shape: identical to the production pair generator (bucket
    cap bounds expansion; the per-pair MIN aggregate shuffles once on
    the pair key) plus two O(bands)-row windows.
    """
    pairfb = (
        _bucket_pair_rows(minhash_bands_stored(spark, sf_dir), _LSH_BUCKET_CAP)
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.min("band_idx").alias("first_band"))
    )
    perband = pairfb.groupBy("first_band").agg(
        F.count(F.lit(1)).cast("long").alias("new_pairs")
    )
    cum = Window.orderBy("first_band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    return perband.select(
        "first_band",
        "new_pairs",
        F.sum("new_pairs").over(cum).cast("long").alias("cum_pairs"),
        (
            F.sum("new_pairs").over(cum).cast("double")
            / F.sum("new_pairs").over(tot).cast("double")
        ).alias("coverage_frac"),
    )


# ---------------------------------------------------------------------------
# Dedup survivorship accounting (F-EXT, round 11 batch 6)
# ---------------------------------------------------------------------------


def _survivorship_oracle() -> str:
    return rf"""
    WITH RECURSIVE base AS (
      SELECT doc_id, source,
             len({_SQL_TOKENS}) AS n_tok,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               AS content_key
      FROM documents
    ),
    sh AS (
      {_SQL_SHINGLE_ROWS}
    ),
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    {_SQL_COMPONENTS},
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    ex AS (
      SELECT doc_id, source, n_tok, content_key,
             doc_id = MIN(doc_id) OVER (PARTITION BY content_key) AS s_exact
      FROM base
    ),
    exs AS (
      SELECT e.doc_id, e.source, e.n_tok,
             COALESCE(c.cluster_id, e.doc_id) AS ckey
      FROM ex e LEFT JOIN comp c USING (doc_id)
      WHERE e.s_exact
    ),
    nd AS (
      SELECT doc_id, source, n_tok,
             doc_id = MIN(doc_id) OVER (PARTITION BY ckey) AS s_near
      FROM exs
    ),
    tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM base GROUP BY source
    ),
    exagg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_docs,
             CAST(SUM(n_tok) AS BIGINT) AS exact_tokens
      FROM exs GROUP BY source
    ),
    ndagg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
             CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
      FROM nd WHERE s_near GROUP BY source
    )
    SELECT t.source, t.n_docs, t.n_tokens,
           COALESCE(e.exact_docs, 0) AS exact_docs,
           COALESCE(e.exact_tokens, 0) AS exact_tokens,
           COALESCE(n.kept_docs, 0) AS kept_docs,
           COALESCE(n.kept_tokens, 0) AS kept_tokens,
           CAST(COALESCE(n.kept_docs, 0) AS DOUBLE)
             / CAST(t.n_docs AS DOUBLE) AS kept_doc_frac,
           CAST(COALESCE(n.kept_tokens, 0) AS DOUBLE)
             / CAST(t.n_tokens AS DOUBLE) AS kept_token_frac
    FROM tot t
    LEFT JOIN exagg e ON e.source = t.source
    LEFT JOIN ndagg n ON n.source = t.source
    """


@register("llm_dedup_survivorship", oracle=_survivorship_oracle())
def llm_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: DEDUP SURVIVORSHIP accounting — the per-source ledger a
    curation run publishes after its dedup stages: documents and
    tokens entering, surviving exact dedup (canonical = min doc_id per
    canonicalized-content key), and surviving near-dup dedup (the
    minimum exact-survivor per MinHash-LSH connected component keeps
    the cluster; everything else drops), with kept-doc and kept-token
    fractions. The number that tells you WHICH source is paying for
    the corpus's duplication — crawl sources collapse, curated ones
    pass through.

    Composition: the exact stage is the engine's own content-key
    relation; the near-dup stage reads the persisted CLUSTER store
    (one CC solve per corpus, S21 band store underneath) — this query
    adds two window passes and three O(sources) aggregates on top of
    relations the stores already paid for. The oracle replays the full
    pipeline (content keys, signature pass, banded candidates,
    recursive-CTE components) independently in SQL.

    Scale shape: content-key window and cluster-key window both
    shuffle two short columns keyed by uniform hashes/ids; the final
    joins land on O(sources) rows. No text moves past the first
    projection; no step is quadratic (candidates come bucket-capped
    from the store).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.size(_tokens()).alias("n_tok"),
        F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")).alias(
            "content_key"
        ),
    )
    wk = Window.partitionBy("content_key")
    ex = base.withColumn(
        "s_exact", F.col("doc_id") == F.min("doc_id").over(wk)
    )
    comp = neardup_components_stored(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), "cluster_id"
    )
    exs = (
        ex.filter("s_exact")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.coalesce("cluster_id", "doc_id").alias("ckey"),
        )
    )
    wc = Window.partitionBy("ckey")
    nd = exs.withColumn(
        "s_near", F.col("doc_id") == F.min("doc_id").over(wc)
    )
    tot = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    exagg = exs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("exact_docs"),
        F.sum("n_tok").cast("long").alias("exact_tokens"),
    )
    ndagg = (
        nd.filter("s_near")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("kept_docs"),
            F.sum("n_tok").cast("long").alias("kept_tokens"),
        )
    )
    z = F.lit(0).cast("long")
    return (
        tot.join(exagg, "source", "left")
        .join(ndagg, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.coalesce("exact_docs", z).alias("exact_docs"),
            F.coalesce("exact_tokens", z).alias("exact_tokens"),
            F.coalesce("kept_docs", z).alias("kept_docs"),
            F.coalesce("kept_tokens", z).alias("kept_tokens"),
            (
                F.coalesce("kept_docs", z).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("kept_doc_frac"),
            (
                F.coalesce("kept_tokens", z).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("kept_token_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Round 11 batch 8: incremental SimHash admission, topic tagging,
# source language entropy
# ---------------------------------------------------------------------------


def _inc_simhash_oracle() -> str:
    ham = (
        f"len(list_filter(range(1, {_SIMH_BITS + 1}), "
        f"i -> substr(fa.simhash, i, 1) <> substr(fb.simhash, i, 1)))"
    )
    return rf"""
    WITH fps AS (
      {_SQL_SIMHASH_ROWS}
    ),
    corpus AS (
      SELECT * FROM fps WHERE doc_id % {_INC_ND_MOD} <> {_INC_ND_REM}
    ),
    batch AS (
      SELECT * FROM fps WHERE doc_id % {_INC_ND_MOD} = {_INC_ND_REM}
    ),
    cblocks AS (
      SELECT doc_id, b AS block_idx,
             substr(simhash, b * {_SIMH_BLOCK_W} + 1,
                    {_SIMH_BLOCK_W}) AS key
      FROM corpus, (SELECT unnest(range({_SIMH_BLOCKS})) AS b)
    ),
    ok AS (
      SELECT block_idx, key FROM cblocks
      GROUP BY block_idx, key HAVING COUNT(*) <= {_LSH_BUCKET_CAP}
    ),
    bblocks AS (
      SELECT doc_id, b AS block_idx,
             substr(simhash, b * {_SIMH_BLOCK_W} + 1,
                    {_SIMH_BLOCK_W}) AS key
      FROM batch, (SELECT unnest(range({_SIMH_BLOCKS})) AS b)
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc
      FROM bblocks b
      JOIN ok USING (block_idx, key)
      JOIN cblocks c ON c.block_idx = b.block_idx AND c.key = b.key
    ),
    hits AS (
      SELECT cand.batch_doc AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_corpus_within_radius
      FROM cand
      JOIN fps fa ON fa.doc_id = cand.batch_doc
      JOIN fps fb ON fb.doc_id = cand.corpus_doc
      WHERE {ham} <= {_SIMH_RADIUS}
      GROUP BY 1
    )
    SELECT b.doc_id,
           COALESCE(h.n_corpus_within_radius, 0) AS n_corpus_within_radius,
           h.n_corpus_within_radius IS NULL AS admitted
    FROM batch b LEFT JOIN hits h ON h.doc_id = b.doc_id
    """


@register("llm_incremental_simhash", oracle=_inc_simhash_oracle())
def llm_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 EXT: INCREMENTAL SIMHASH admission — the Hamming-geometry
    member completing the incremental family (exact content-key anti
    join, MinHash-band admission, now SimHash): a batch document is
    admitted only when NO standing-corpus document sits within Hamming
    radius {_SIMH_RADIUS} of its fingerprint. Pigeonhole banding makes
    the radius check exact-recall (an in-radius pair always shares a
    block), unlike the probabilistic MinHash admitter — this is the
    admitter you use when the rejection SLA is "never admit a
    near-copy", at the price of the weighted-feature geometry.

    Scale shape: fingerprints come from the S22 store (the corpus vote
    pass never runs at admission time; in production only the BATCH
    side computes prints per run); corpus mega-blocks drop at the
    bucket cap before the probe join; the Hamming verify is 4 XOR+
    popcount ops per candidate.
    """
    fps = simhash_fps_stored(spark, sf_dir)
    is_batch = (F.col("doc_id") % _INC_ND_MOD) == _INC_ND_REM
    corpus = fps.filter(~is_batch)
    batch = fps.filter(is_batch)

    def blocks(df):
        return df.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("block_idx"),
                            F.substring(
                                "simhash",
                                b * _SIMH_BLOCK_W + 1,
                                _SIMH_BLOCK_W,
                            ).alias("key"),
                        )
                        for b in range(_SIMH_BLOCKS)
                    ]
                )
            ).alias("blk"),
        ).select("doc_id", "blk.block_idx", "blk.key")

    cblocks = blocks(corpus)
    ok = _capped_buckets(cblocks, ["block_idx", "key"], _LSH_BUCKET_CAP)
    cand = (
        blocks(batch)
        .withColumnRenamed("doc_id", "batch_doc")
        .join(ok, ["block_idx", "key"])
        .join(
            cblocks.select(
                "block_idx", "key", F.col("doc_id").alias("corpus_doc")
            ),
            ["block_idx", "key"],
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    fa = fps.select(F.col("doc_id").alias("batch_doc"), F.col("simhash").alias("sa"))
    fb = fps.select(F.col("doc_id").alias("corpus_doc"), F.col("simhash").alias("sb"))

    def _blk_int(col: str, b: int):
        return F.conv(
            F.substring(col, b * _SIMH_BLOCK_W + 1, _SIMH_BLOCK_W), 2, 10
        ).cast("long")

    hamming = None
    for b_ in range(_SIMH_BLOCKS):
        t = F.bit_count(_blk_int("sa", b_).bitwiseXOR(_blk_int("sb", b_)))
        hamming = t if hamming is None else hamming + t
    hits = (
        cand.join(fa, "batch_doc")
        .join(fb, "corpus_doc")
        .filter(hamming <= _SIMH_RADIUS)
        .groupBy("batch_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_corpus_within_radius"))
    )
    return (
        batch.select("doc_id")
        .join(hits.withColumnRenamed("batch_doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_corpus_within_radius", F.lit(0))
            .cast("long")
            .alias("n_corpus_within_radius"),
            F.col("n_corpus_within_radius").isNull().alias("admitted"),
        )
    )


#: Rule-based taxonomy for zero-shot topic tagging: topic → keyword
#: list, drawn from the synthetic vocabulary. A production taxonomy
#: swaps these literals for a broadcast (topic, keyword) relation
#: with identical semantics.
_TOPICS = (
    ("execution", ("scan", "filter", "join", "merge", "sort")),
    ("sizing", ("fast", "slow", "big", "small")),
    ("storage", ("table", "row", "column", "key", "value")),
    ("streaming", ("stream", "window", "batch", "spark")),
)


def _topic_oracle() -> str:
    hits = ", ".join(
        "len(list_filter(t, x -> list_contains(["
        + ", ".join(f"'{k}'" for k in kws)
        + f"], x))) AS {name}"
        for name, kws in _TOPICS
    )
    names = [name for name, _ in _TOPICS]
    argmax = "CASE WHEN " + " AND ".join(f"{n} = 0" for n in names)
    argmax += " THEN 'unassigned'"
    for i, n in enumerate(names):
        rest = names[i + 1:]
        if rest:
            cond = " AND ".join(f"{n} >= {r}" for r in rest)
            argmax += f" WHEN {cond} THEN '{n}'"
        else:
            argmax += f" ELSE '{n}'"
    argmax += " END"
    win = " + ".join(
        f"CASE WHEN {argmax} = '{n}' THEN {n} ELSE 0 END" for n in names
    )
    total = " + ".join(names)
    return rf"""
    WITH h AS (
      SELECT doc_id, len(t) AS n_tok, {hits}
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
      WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           {argmax} AS topic,
           CAST({win} AS BIGINT) AS n_hits,
           CAST({total} AS BIGINT) AS n_topic_tokens,
           CAST({total} AS DOUBLE) / CAST(n_tok AS DOUBLE) AS coverage
    FROM h
    """


@register("llm_topic_keyword_assignment", oracle=_topic_oracle())
def llm_topic_keyword_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: RULE-BASED TOPIC tagging — the zero-shot taxonomy pass a
    curation run uses before any trained classifier exists: per
    document, keyword-occurrence counts per topic, the argmax topic
    (deterministic fixed priority on ties, 'unassigned' on zero hits),
    the winner's hit count and total taxonomy coverage. Domain tags
    feed the mixture planner (sample by topic, not just source) and
    the c-TF-IDF report validates them.

    Scale shape: pure per-row map — tokenize once, one array filter
    per topic against broadcast-literal keyword lists, a CASE-chain
    argmax — all in whole-stage codegen; no shuffle, no join, no UDF.
    A production-size taxonomy becomes a broadcast (topic, keyword)
    join + one (doc, topic) aggregate with identical semantics.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    base = docs.select(
        "doc_id", toks.alias("t"), F.size(toks).alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    def _contains(arr):
        return lambda x: F.array_contains(arr, x)

    hit_cols = []
    for name, kws in _TOPICS:
        arr = F.array(*[F.lit(k) for k in kws])
        hit_cols.append(
            F.size(F.filter(F.col("t"), _contains(arr))).alias(name)
        )
    h = base.select("doc_id", "n_tok", *hit_cols)
    names = [name for name, _ in _TOPICS]
    topic = F.when(
        sum(F.col(n) for n in names) == 0, F.lit("unassigned")
    )
    for i, n in enumerate(names):
        rest = names[i + 1:]
        if rest:
            cond = None
            for r in rest:
                c = F.col(n) >= F.col(r)
                cond = c if cond is None else (cond & c)
            topic = topic.when(cond, F.lit(n))
        else:
            topic = topic.otherwise(F.lit(n))
    total = sum(F.col(n) for n in names)
    win = None
    for n in names:
        term = F.when(F.col("topic") == n, F.col(n)).otherwise(F.lit(0))
        win = term if win is None else win + term
    return (
        h.withColumn("topic", topic)
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            "topic",
            win.cast("long").alias("n_hits"),
            total.cast("long").alias("n_topic_tokens"),
            (total.cast("double") / F.col("n_tok").cast("double")).alias(
                "coverage"
            ),
        )
    )


@register(
    "llm_source_lang_entropy",
    oracle=rf"""
    WITH c AS (
      SELECT source, lang, COUNT(*) AS c
      FROM documents GROUP BY source, lang
    ),
    s AS (
      SELECT source,
             SUM(c) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_langs,
             MAX(c) AS max_c,
             SUM(c * {_SQL_LN_MICRO.format(x='c')}) AS sl
      FROM c GROUP BY source
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           n_langs,
           CAST(max_c AS DOUBLE) / CAST(n AS DOUBLE) AS majority_share,
           CAST({_SQL_LN_MICRO.format(x='n')} * n - sl AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1000000) AS lang_entropy_nats
    FROM s
    """,
)
def llm_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: per-source LANGUAGE-MIX entropy — composition diversity
    of each source: Shannon entropy over its language distribution
    (H = (n·ln n − Σ c·ln c)/n), language count and majority share.
    The corpus-composition lens that tells a mixture plan which
    sources are monolingual pipes and which are mixed crawls — the
    source-grain complement of per-doc code-switch detection (F67)
    and the entropy twin of the cross-source overlap matrix.

    Cross-engine exactness: the token-entropy discipline — ln is
    quantized to integer micro-nats (libm ln via the Arrow batch
    helper, applied to the O(sources × langs) count relation), so the
    Σ c·ln c accumulates exactly as int64 and one double division
    lands the result.

    Scale shape: one (source, lang) hash agg with map-side combine —
    two short group keys over any corpus size — then an O(sources)
    rollup; the ln table is a tiny projection of the same relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    ln = _ln_libm()
    cl = c.select(
        "source",
        "c",
        F.floor(ln(F.col("c").cast("double")) * 1_000_000)
        .cast("long")
        .alias("lnc"),
    )
    s = cl.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.max("c").cast("long").alias("max_c"),
        F.sum(F.col("c") * F.col("lnc")).cast("long").alias("sl"),
    )
    s = s.select(
        "source",
        "n",
        "n_langs",
        "max_c",
        "sl",
        F.floor(ln(F.col("n").cast("double")) * 1_000_000)
        .cast("long")
        .alias("lnn"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        "n_langs",
        (F.col("max_c").cast("double") / F.col("n").cast("double")).alias(
            "majority_share"
        ),
        (
            (F.col("lnn") * F.col("n") - F.col("sl")).cast("double")
            / (F.col("n").cast("double") * 1_000_000)
        ).alias("lang_entropy_nats"),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (F-EXT, round 11 batch 9)
# ---------------------------------------------------------------------------

#: Jaccard threshold for the exact similarity join, as a ratio of
#: integers so every gate cross-multiplies exactly: J >= 3/5.
_SSJ_T_NUM = 3
_SSJ_T_DEN = 5


def _ssj_oracle() -> str:
    n, d = _SSJ_T_NUM, _SSJ_T_DEN
    return rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_SIZES},
    rk AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY COUNT(*), s) AS rank
      FROM sh GROUP BY s
    ),
    ordered AS (
      SELECT sh.doc_id, rk.rank,
             ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                                ORDER BY rk.rank) AS pos,
             sizes.n
      FROM sh JOIN rk USING (s) JOIN sizes USING (doc_id)
    ),
    prefix AS (
      SELECT doc_id, rank, n FROM ordered
      WHERE pos <= n - (({n} * n + {d} - 1) // {d}) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a
      JOIN prefix b ON b.rank = a.rank AND a.doc_id < b.doc_id
                   AND {n} * a.n <= {d} * b.n
                   AND {n} * b.n <= {d} * a.n
    ),
    shared AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS o
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(o AS BIGINT) AS n_shared,
           CAST(o AS DOUBLE) / (sa.n + sb.n - o) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {d} * o >= {n} * (sa.n + sb.n - o)
    """


@register("llm_setsim_join_exact", oracle=_ssj_oracle())
def llm_setsim_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 EXT: EXACT set-similarity self-join via PREFIX FILTERING
    (AllPairs/PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008) —
    every document pair whose 3-gram-shingle Jaccard is >= 3/5, with
    ZERO misses: the deterministic-recall counterpart of the MinHash
    band generator, for the pipelines whose SLA is "find every
    near-duplicate", not "find most". Candidates are pairs sharing at
    least one PREFIX shingle — each document's first
    n − ceil(t·n) + 1 shingles in global rarity order — which is
    complete by the prefix-filtering theorem; an exact overlap verify
    with the integer cross-multiplied threshold gate finishes the
    join.

    Scale shape: the global rarity order puts HIGH-df shingles last,
    so they never enter prefixes — the hot-key/stop-word hazard that
    forces a bucket cap on the LSH path is pruned by construction
    here, and the length gate (t·|a| <= |b| <= |a|/t, cross-
    multiplied) runs inside the prefix join, followed by PPJoin
    positional filtering on the surviving pairs. Cost model vs LSH:
    one extra corpus aggregate (the df ranks) and a wider candidate
    set in exchange for exact recall — the measured trade
    ``llm_ann_recall_report`` quantifies from the other side. All
    joins are key-equi joins on uniform shingle ranks; the verify
    stage touches |candidates| rows each carrying two per-doc shingle
    sets (bounded by doc length), never the corpus square.

    Exactness: counts, ranks and both gates are integers; the one
    double division is bitwise on equal inputs. Ties in the rarity
    order break on the shingle string, so the order — and the prefix
    sets — are engine-identical.
    """
    from pyspark.sql.window import Window as W

    n_, d_ = _SSJ_T_NUM, _SSJ_T_DEN
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    # Materialized once: this relation feeds FIVE consumers (sizes, df
    # ranks, prefix ordering, both verify sides) — left lazy, the
    # tokenize → 3-gram transform → distinct pass re-executes per
    # branch (it is also one of the two fixes that took the clean-session
    # cost from 6.2 s to ~2 s; the other is the rank-free prefix
    # ordering below). In
    # production the shingle relation is store-paid (S21 discipline);
    # this materialization is the in-query equivalent.
    sh = pin(
        toked.select("doc_id", F.explode(_word_ngrams(F.col("t"))).alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Global rarity order WITHOUT a global rank: (df, s) IS a total
    # order over shingles, so per-doc prefix positions can sort by it
    # DIRECTLY (doc-partitioned window, tiny per-key groups) and
    # candidates can equi-join on the shingle itself (1:1 with its
    # rank). The previous form materialized dense ranks with
    # row_number over an UNPARTITIONED window — a single-partition
    # sort of the entire shingle vocabulary, the exact WindowExec
    # hazard the hygiene notes warn about — then joined them back.
    # Same prefix sets, same candidates; one global sort and one
    # vocabulary-wide join fewer (6.2 s → ~2 s clean-session).
    dfs = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # r17 OPT (guide §2.4/§5): the ordered relation used to be
    # recomputed per self-join side — TWO copies of the dfs aggregate,
    # the sizes join and the per-doc window in one plan. r18 (VERDICT
    # #9): materialize at the ORDERED grain, one step above r17's
    # prefix grain: both prefix sides read it as a cheap filter, and
    # the verify stage's docsets aggregate below reads it too.
    ordered = pin(
        sh.join(dfs, "s")
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "s",
            "n",
            F.row_number()
            .over(W.partitionBy("doc_id").orderBy("df", "s"))
            .alias("pos"),
        )
    )
    prefix = ordered.filter(
        F.col("pos")
        <= F.col("n") - F.floor((n_ * F.col("n") + d_ - 1) / d_) + 1
    ).select("doc_id", "s", "n", "pos")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "s",
        F.col("n").alias("na"),
        F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s").alias("s_b"),
        F.col("n").alias("nb"),
        F.col("pos").alias("pb"),
    )
    # r17 OPT (guide §2.3): carry the per-doc sizes THROUGH the
    # candidate pairs (they are functions of doc_a/doc_b, so the
    # distinct cardinality is unchanged) instead of re-aggregating
    # ``sh`` into sizes twice more and sort-merge-joining them back
    # onto the verified pairs — two joins and two corpus aggregates
    # fewer. Additionally apply PPJoin POSITIONAL FILTERING (Xiao et
    # al. 2008): per-doc prefix positions follow the GLOBAL (df, s)
    # order, so a pair's first common shingle in global order sits at
    # (min pa, min pb) across its matches, every other common shingle
    # lies after it in BOTH docs, and the true overlap is bounded by
    # 1 + min(na - min_pa, nb - min_pb). Pairs whose bound already
    # fails the threshold gate never reach the exact verify (prunes a
    # large share of candidates). Recall is untouched — only pairs
    # that provably cannot pass are dropped.
    cand = (
        a.join(
            b,
            (F.col("s") == F.col("s_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (n_ * F.col("na") <= d_ * F.col("nb"))
            & (n_ * F.col("nb") <= d_ * F.col("na")),
        )
        .select("doc_a", "doc_b", "na", "nb", "pa", "pb")
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.min("pa").alias("mpa"), F.min("pb").alias("mpb"))
        .withColumn(
            "ub",
            F.lit(1)
            + F.least(
                F.col("na") - F.col("mpa"), F.col("nb") - F.col("mpb")
            ),
        )
        .filter(
            d_ * F.col("ub")
            >= n_ * (F.col("na") + F.col("nb") - F.col("ub"))
        )
        .select("doc_a", "doc_b", "na", "nb")
    )
    # r17 OPT (guide §2.3): verify with per-doc shingle SETS instead of
    # exploded per-shingle rows. The old verify streamed every shingle
    # of every candidate doc through two sort-merge joins —
    # |candidates| × |shingles-per-doc| rows, each sorted twice. A
    # doc's distinct shingle set is bounded by its length, so it packs
    # into one array row; attaching two arrays per candidate pair and
    # intersecting them in-row moves the same bytes at 1/|shingles|
    # the row count and drops both verify sorts. The overlap count o
    # (array_intersect of two duplicate-free arrays) is the same
    # integer, so the gate and the one double divide are unchanged.
    # The aggregate still shuffles: under AQE the checkpoint scan of
    # `ordered` reports no partitioning, so the executed plan runs a
    # partial collect_list, an Exchange on doc_id and the final
    # collect_list (read off the executed plan at sf0.01).
    docsets = ordered.groupBy("doc_id").agg(F.collect_list("s").alias("ss"))
    da = docsets.select(F.col("doc_id").alias("da"), F.col("ss").alias("ssa"))
    db = docsets.select(F.col("doc_id").alias("db"), F.col("ss").alias("ssb"))
    shared = (
        cand.join(da, F.col("doc_a") == F.col("da"))
        .join(db, F.col("doc_b") == F.col("db"))
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            F.size(F.array_intersect("ssa", "ssb")).alias("o"),
        )
    )
    return (
        shared.filter(
            d_ * F.col("o")
            >= n_ * (F.col("na") + F.col("nb") - F.col("o"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("o").cast("long").alias("n_shared"),
            (
                F.col("o").cast("double")
                / (F.col("na") + F.col("nb") - F.col("o"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Round-12 batch 1: Bloom-filter admission audit, Heaps-law vocabulary
# growth, character-class profiling
# ---------------------------------------------------------------------------

#: Bloom geometry: k independent md5-derived positions in a 16^4-slot
#: space. Positions are the 4-hex-char md5 prefixes of key‖'#'‖i —
#: engine-portable strings, no hex→int conversion needed — so the
#: "bit array" is a DISTINCT-position relation capped at 65,536 rows
#: at ANY corpus size: the structural bound that makes the probe side
#: a broadcast join.
_BLOOM_K = 3
_BLOOM_HEX = 4


def _bloom_pos_sql(key: str, i: int) -> str:
    return f"substr(md5({key} || '#{i}'), 1, {_BLOOM_HEX})"


@register(
    "llm_bloom_dedup_audit",
    oracle=rf"""
    WITH keyed AS (
      SELECT doc_id, source,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS k
      FROM documents
    ),
    existing AS (SELECT * FROM keyed WHERE doc_id % 2 = 0),
    incoming AS (SELECT * FROM keyed WHERE doc_id % 2 = 1),
    bits AS (
      SELECT DISTINCT pos FROM existing, UNNEST([{
        ", ".join(_bloom_pos_sql("k", i) for i in range(_BLOOM_K))
      }]) AS t(pos)
    ),
    probed AS (
      -- rejection is the SUBSET test "every probe position is set":
      -- per-position membership ANDed, NOT a matched-row count — a
      -- COUNT(*)=k formulation under-counts when a key's k md5-prefix
      -- positions self-collide (duplicate positions match the same
      -- DISTINCT bits row once), diverging from true Bloom semantics
      -- and from the Spark plan / pure-Python twin (~4.6e-5/doc).
      SELECT n.doc_id, n.source, n.k,
             ({
               " AND ".join(
                   f"{_bloom_pos_sql('n.k', i)} IN (SELECT pos FROM bits)"
                   for i in range(_BLOOM_K)
               )
             }) AS rejected,
             EXISTS (SELECT 1 FROM existing e WHERE e.k = n.k) AS is_dup
      FROM incoming n
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN rejected THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rejected,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_dup,
           CAST(SUM(CASE WHEN rejected AND NOT is_dup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           CAST(SUM(CASE WHEN rejected AND NOT is_dup THEN 1 ELSE 0 END)
                AS DOUBLE)
             / CAST(COUNT(*) - SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)
                    AS DOUBLE) AS fp_rate
    FROM probed
    GROUP BY source
    """,
)
def llm_bloom_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/J10 EXT: BLOOM-FILTER ADMISSION audit — the streaming-ingest
    companion of exact dedup: an m-slot, k-hash Bloom membership
    structure built from the EXISTING corpus's content keys screens
    the INCOMING slice before the expensive exact-dedup shuffle, and
    this audit reports, per source, how many incoming docs the filter
    rejects, how many are true duplicates, and the observed
    false-positive count/rate (rejected but genuinely novel) — the
    number that says whether m and k are sized right for the corpus.

    Exactness: positions are md5-prefix strings (identical both
    engines); all counts exact int64; the one rate is a double ratio
    of exact ints. Rejection means ALL k positions present — evaluated
    as an exact membership count against the distinct-position
    relation, which is semantically the bit-array test.

    Scale shape: the "bit array" is a DISTINCT-position relation
    structurally capped at 16^{_BLOOM_HEX} rows regardless of corpus
    size — it BROADCASTS; the probe is a per-row explode of k=
    {_BLOOM_K} positions + broadcast hash join + per-doc hash agg
    (map-side combinable), and the exact-dup verify joins on the
    uniform 128-bit content key. No step is corpus×corpus; the
    incoming slice never joins the existing TEXT, only its key set.
    At 100 TB the same plan stands — the filter relation stays 64Ki
    rows (one would raise _BLOOM_HEX to size m for the corpus, which
    changes only the broadcast's constant).
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    keyed = docs.select("doc_id", "source", key.alias("k"))
    existing = keyed.filter(F.col("doc_id") % 2 == 0)
    incoming = keyed.filter(F.col("doc_id") % 2 == 1)

    def pos(i: int, col: str = "k") -> Column:
        return F.substring(
            F.md5(F.concat(F.col(col), F.lit(f"#{i}"))), 1, _BLOOM_HEX
        )

    bits = (
        existing.select(
            F.explode(F.array(*[pos(i) for i in range(_BLOOM_K)])).alias(
                "pos"
            )
        )
        .distinct()
        .withColumn("bit", F.lit(1))
    )
    probe = incoming.select(
        "doc_id",
        "source",
        "k",
        F.explode(F.array(*[pos(i) for i in range(_BLOOM_K)])).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id", "source", "k")
        .agg(
            (F.sum(F.coalesce("bit", F.lit(0))) == _BLOOM_K).alias(
                "rejected"
            )
        )
    )
    exact = existing.select("k").distinct().withColumn("present", F.lit(True))
    probed = hits.join(exact, "k", "left").select(
        "source",
        "rejected",
        F.coalesce("present", F.lit(False)).alias("is_dup"),
    )
    fp = (F.col("rejected") & ~F.col("is_dup")).cast("long")
    return probed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_new"),
        F.sum(F.col("rejected").cast("long")).cast("long").alias("n_rejected"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_true_dup"),
        F.sum(fp).cast("long").alias("n_false_positive"),
        (
            F.sum(fp).cast("double")
            / (
                F.count(F.lit(1)) - F.sum(F.col("is_dup").cast("long"))
            ).cast("double")
        ).alias("fp_rate"),
    )


@register(
    "llm_heaps_law_by_source",
    oracle=rf"""
    WITH tc AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents)
      GROUP BY source, term
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS hapax_frac,
           ln(CAST(COUNT(*) AS DOUBLE))
             / ln(CAST(SUM(c) AS DOUBLE)) AS heaps_beta
    FROM tc
    GROUP BY source
    """,
)
def llm_heaps_law_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20/A29 EXT: HEAPS'-LAW vocabulary-growth audit — per source,
    token mass N, distinct-type count V, hapax-legomena count/fraction,
    and the Heaps exponent proxy β = ln V / ln N (V ≈ K·N^β; natural
    text sits near β≈0.5, template/boilerplate corpora collapse toward
    0, ID-dump garbage inflates toward 1). The Zipf slope's
    (``llm_zipf_slope_report``) dual: Zipf reads the frequency
    distribution's shape, Heaps reads the vocabulary's growth — a
    source whose β breaks from its siblings is a curation flag.

    Exactness: N, V, hapax are exact int64 from one hash agg; β is
    libm ln (Arrow UDF, the ``_ln_libm`` discipline — DuckDB's ln IS
    libm) applied to exact-int doubles on an O(sources)-row relation,
    then one double division. Scale shape: ONE token explode →
    (source, term) hash agg with map-side combine (the c-TF-IDF
    scan shape) → O(sources×vocab) rows collapse to O(sources); the
    ln UDF touches rows AFTER the collapse, never per token.
    """
    ln = _ln_libm()
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
    )
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        (
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double")
        ).alias("hapax_frac"),
        (
            ln(F.col("n_types").cast("double"))
            / ln(F.col("n_tokens").cast("double"))
        ).alias("heaps_beta"),
    )


#: Character classes for the profile — EXPLICIT ASCII classes on both
#: engines (Java's \s and RE2's \s disagree on \x0B, and unicode
#: letter classes disagree more): counts come from stripping the
#: class and differencing lengths is avoided entirely — each class is
#: counted by replacing its COMPLEMENT and measuring what remains, so
#: the four counts are consistent by construction and no engine's
#: length() semantics for astral chars is load-bearing.
_CHAR_CLASSES = [
    ("letters", "A-Za-z"),
    ("digits", "0-9"),
    ("spaces", " \\t\\n\\r\\f"),
]


@register(
    "llm_char_class_profile",
    oracle=rf"""
    WITH per_doc AS (
      SELECT source,
             {", ".join(
               f"length(regexp_replace(text, '[^{cls}]', '', 'g')) AS {name}"
               for name, cls in _CHAR_CLASSES
             )},
             length(regexp_replace(text,
               '[{"".join(cls for _, cls in _CHAR_CLASSES)}]', '', 'g'))
               AS other
      FROM documents
    )
    SELECT source,
           {", ".join(
             f"CAST(SUM({name}) AS BIGINT) AS n_{name}"
             for name, _ in _CHAR_CLASSES
           )},
           CAST(SUM(other) AS BIGINT) AS n_other,
           CAST(SUM(other) AS DOUBLE)
             / CAST(SUM(letters) + SUM(digits) + SUM(spaces) + SUM(other)
                    AS DOUBLE) AS other_frac
    FROM per_doc
    GROUP BY source
    """,
)
def llm_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 EXT: CHARACTER-CLASS profile — per source, the corpus's
    character mass split into ASCII letters / digits / whitespace /
    other, plus the other-class share: the OCR-garbage and
    binary-contamination lens (scanned-PDF noise, mojibake, and
    markup-heavy sources all surface as a fat ``other_frac`` long
    before any model-based quality score runs).

    Exactness: classes are explicit ASCII sets (never \\s or unicode
    categories — Java regex and RE2 disagree at the edges); each count
    is length(keep-only-class), so the FOUR counts partition the text
    by construction and no engine's length() convention for
    supplementary-plane characters can skew a difference. Sums exact
    int64; the share is one double ratio.

    Scale shape: per-row regexp_replace + length fold inside
    whole-stage codegen (no explode — character counting never leaves
    the row), then a map-side-combined hash agg onto O(sources) keys.
    The cheapest full-corpus profile in the family: one scan, zero
    joins, zero Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    cols = [
        F.length(
            F.regexp_replace(F.col("text"), f"[^{cls}]", "")
        ).alias(name)
        for name, cls in _CHAR_CLASSES
    ]
    all_cls = "".join(cls for _, cls in _CHAR_CLASSES)
    per_doc = docs.select(
        "source",
        *cols,
        F.length(F.regexp_replace(F.col("text"), f"[{all_cls}]", "")).alias(
            "other"
        ),
    )
    total = sum(
        (F.sum(name) for name, _ in _CHAR_CLASSES), F.sum("other")
    )
    return per_doc.groupBy("source").agg(
        *[
            F.sum(name).cast("long").alias(f"n_{name}")
            for name, _ in _CHAR_CLASSES
        ],
        F.sum("other").cast("long").alias("n_other"),
        (F.sum("other").cast("double") / total.cast("double")).alias(
            "other_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Round-12 batch 2: centroid-shift audit, unique-n-gram compression
# proxy
# ---------------------------------------------------------------------------


@register(
    "llm_centroid_shift_by_label",
    oracle=rf"""
    WITH x AS (
      SELECT label, i, {_SQL_ISCALE.format(v="e")} AS iv
      FROM (
        SELECT label, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      )
    ),
    nl AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM embeddings GROUP BY label
    ),
    ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM embeddings),
    sl AS (SELECT label, i, SUM(iv) AS s_li FROM x GROUP BY label, i),
    sg AS (SELECT i, SUM(s_li) AS s_gi FROM sl GROUP BY i),
    cen AS (
      SELECT sl.label,
             sl.s_li // nl.n_vecs AS c_li,
             sg.s_gi // ng.n_all AS c_gi
      FROM sl JOIN nl ON sl.label = nl.label
              JOIN sg ON sl.i = sg.i, ng
    ),
    dots AS (
      SELECT label,
             SUM(c_li * c_gi) AS dot_lg,
             SUM(c_li * c_li) AS nrm_l,
             SUM(c_gi * c_gi) AS nrm_g
      FROM cen GROUP BY label
    )
    SELECT d.label, nl.n_vecs,
           CAST(dot_lg AS DOUBLE)
             / (sqrt(CAST(nrm_l AS DOUBLE)) * sqrt(CAST(nrm_g AS DOUBLE)))
             AS cosine_to_global,
           sqrt(CAST(nrm_l AS DOUBLE)) / sqrt(CAST(nrm_g AS DOUBLE))
             AS norm_ratio
    FROM dots d JOIN nl ON d.label = nl.label
    """,
)
def llm_centroid_shift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 EXT: CENTROID-SHIFT audit — per label, the cosine between
    the label's centroid and the GLOBAL corpus centroid plus their
    norm ratio: the embedding-space drift lens (a label whose centroid
    swings away from the mixture marks a cluster the sampler
    over/under-weighs; a norm ratio far from 1 marks scale drift that
    breaks dot-product retrieval). ``llm_centroid_by_label`` reports
    the centroids; this reports their GEOMETRY against the mixture.

    Exactness: per-dim sums are exact int64 over ``_iscale`` fixed
    point; centroids are TRUNCATING integer division (Spark ``div`` ≡
    DuckDB ``//`` at every sign — the drift-report precedent), which
    caps each centroid component at the original ~2^20 scale so the
    D-term dots stay ≤ 2^46, exact in int64; the final cosine/sqrt is
    bitwise IEEE on equal ints. Scale shape: one posexplode →
    (label, dim) hash agg (map-side combine; D×L rows), the global
    sums DERIVE from it (no second corpus pass), and everything after
    the first agg is O(D×L) — at 10⁹ vectors the corpus is scanned
    once and the geometry runs on a few thousand rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("i", "e")
    ).select("label", "i", _iscale(F.col("e")).alias("iv"))
    nl = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    ng = emb.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    sl = x.groupBy("label", "i").agg(F.sum("iv").alias("s_li"))
    sg = sl.groupBy("i").agg(F.sum("s_li").alias("s_gi"))
    cen = (
        sl.join(nl, "label")
        .join(F.broadcast(sg), "i")
        .crossJoin(F.broadcast(ng))
        .select(
            "label",
            F.expr("s_li div n_vecs").alias("c_li"),
            F.expr("s_gi div n_all").alias("c_gi"),
        )
    )
    dots = cen.groupBy("label").agg(
        F.sum(F.col("c_li") * F.col("c_gi")).alias("dot_lg"),
        F.sum(F.col("c_li") * F.col("c_li")).alias("nrm_l"),
        F.sum(F.col("c_gi") * F.col("c_gi")).alias("nrm_g"),
    )
    return dots.join(nl, "label").select(
        "label",
        "n_vecs",
        (
            F.col("dot_lg").cast("double")
            / (
                F.sqrt(F.col("nrm_l").cast("double"))
                * F.sqrt(F.col("nrm_g").cast("double"))
            )
        ).alias("cosine_to_global"),
        (
            F.sqrt(F.col("nrm_l").cast("double"))
            / F.sqrt(F.col("nrm_g").cast("double"))
        ).alias("norm_ratio"),
    )


@register(
    "llm_unique_ngram_ratio",
    oracle=rf"""
    WITH grams AS (
      SELECT source, unnest({_sql_word_ngrams("t", 3)}) AS g
      FROM (SELECT source, {_SQL_TOKENS} AS t FROM documents)
    ),
    gc AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM grams GROUP BY source, g
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS unique_ratio
    FROM gc
    GROUP BY source
    """,
)
def llm_unique_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22 EXT: UNIQUE-3-GRAM ratio — per source, total word 3-grams,
    distinct 3-grams, and their ratio: the cheap COMPRESSIBILITY proxy
    (gzip-style redundancy without running a codec). Templated or
    boilerplate-heavy sources collapse toward 0 — exactly the
    repetition a dedup pass must not be asked to absorb —
    while natural prose sits high. ``llm_repetition_signals`` scores
    repetition WITHIN a doc; this scores it ACROSS a source, where
    template reuse hides.

    Exactness: both counts exact int64; one double ratio. Scale
    shape: TWO-LEVEL aggregate, never COUNT(DISTINCT) alongside
    COUNT(*) — mixing them makes Spark plan an Expand that duplicates
    every exploded gram row (measured 8.1 s vs 1.0 s at sf0.1, 9.5×
    growth at the 10× probe). Level 1 hash-aggs (source, gram) with
    map-side combine collapsing repeated grams before the exchange —
    repetition is exactly what this lens measures, so the templated
    sources that score low also shuffle least; level 2 collapses to
    O(sources). ``fan_out_if_narrow`` matters here for the same
    reason it does in the MinHash signature pass: the 3-gram
    construction is a CPU-heavy array transform that runs in the SCAN
    stage, so its parallelism is the split count — a single small
    parquet file pins it to one core (measured 7.3 s single-task vs
    sub-second fanned at sf0.1). At corpus scale the distinct side
    swaps to the documented HLL twin, same plan otherwise.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = fan_out_if_narrow(docs).select(
        "source", F.explode(_word_ngrams(_tokens(), 3)).alias("g")
    )
    gc = grams.groupBy("source", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    return gc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        (
            F.count(F.lit(1)).cast("double")
            / F.sum("c").cast("double")
        ).alias("unique_ratio"),
    )


# ---------------------------------------------------------------------------
# Round-12 batch 3: incremental embedding admission (4th incremental
# geometry), b-bit MinHash resolution audit, norm-outlier screening
# ---------------------------------------------------------------------------


@register(
    "llm_incremental_embedding_admission",
    oracle=rf"""
    WITH {_SQL_SCALED},
    n AS (
      SELECT vec_id, sv,
             {_sql_bucket_expr()} AS bucket,
             sqrt(CAST(CAST(list_aggregate(
               list_transform(list_zip(sv, sv), x -> x[1] * x[2]),
               'sum') AS BIGINT) AS DOUBLE)) AS nrm
      FROM s
    ),
    corpus AS (
      SELECT * FROM n WHERE vec_id % {_INC_ND_MOD} <> {_INC_ND_REM}
    ),
    batch AS (
      SELECT * FROM n WHERE vec_id % {_INC_ND_MOD} = {_INC_ND_REM}
    ),
    ok AS (
      SELECT bucket FROM corpus GROUP BY bucket
      HAVING COUNT(*) <= {_ANN_BUCKET_CAP}
    ),
    hits AS (
      SELECT b.vec_id,
             COUNT(DISTINCT c.vec_id) AS n_corpus_neighbors
      FROM batch b
      JOIN ok USING (bucket)
      JOIN corpus c ON c.bucket = b.bucket
      WHERE CAST(CAST(list_aggregate(
              list_transform(list_zip(b.sv, c.sv), p -> p[1] * p[2]),
              'sum') AS BIGINT) AS DOUBLE) / (b.nrm * c.nrm)
            >= {_NEAR_DUP_COSINE}
      GROUP BY b.vec_id
    )
    SELECT b.vec_id,
           CAST(COALESCE(h.n_corpus_neighbors, 0) AS BIGINT)
             AS n_corpus_neighbors,
           h.vec_id IS NULL AS admitted
    FROM batch b LEFT JOIN hits h ON b.vec_id = h.vec_id
    """,
)
def llm_incremental_embedding_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J10 EXT: INCREMENTAL EMBEDDING admission — completes the
    incremental-ingest family across all FOUR dedup geometries (exact
    content-key anti join, MinHash-band admission, SimHash-Hamming
    admission, now embedding-cosine): an incoming vector batch is
    admitted only where NO standing-corpus vector shares a hyperplane
    bucket AND sits at cosine ≥ {_NEAR_DUP_COSINE} — the semantic
    near-copy gate (paraphrases that evade token-level MinHash still
    collide here). Emits per-batch-vector neighbor counts so a softer
    admit-if-<k policy reads the same relation.

    Scale shape: the corpus side's bucket bits are a write-time store
    in production (the S20 discipline — only the BATCH side computes
    per run); corpus mega-buckets drop at ``_ANN_BUCKET_CAP`` before
    the probe join, so each batch vector fans out bucket-locally,
    never corpus-wide; the exact-cosine verify touches only bucket
    collisions. Fixed-point int64 dots, one shared scaled vector per
    row (the ``ann_cosine_pairs`` plan hygiene).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n_planes = _planes_at_oracle_floor(
        emb.count(), "llm_incremental_embedding_admission"
    )
    # _emb_bucket_rows is the SHARED encode (defined with the S23
    # store below): the store writer runs the same expressions, so
    # the stored read path is bit-identical to this twin. NOT
    # materialized: the parquet-scan count in this plan vs the stored
    # twin's is the pinned store-read invariant
    # (tests/test_annbucket_store.py).
    n = _emb_bucket_rows(emb, n_planes)
    is_batch = (F.col("vec_id") % _INC_ND_MOD) == _INC_ND_REM
    corpus = n.filter(~is_batch)
    batch = n.filter(is_batch)
    return _ann_admission(batch, corpus)


#: b-bit MinHash resolution: keep only the LAST hex nibble (b=4 bits)
#: of each of the 8 signature components. Debias: under independence a
#: nibble collides with probability c=1/16 even at J=0, so
#: est = (m/k − c)/(1 − c).
_BBIT_HEX = 1
_BBIT_C = 1.0 / 16.0


@register(
    "llm_minhash_bbit_audit",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES}
    SELECT c.doc_a, c.doc_b,
           CAST({" + ".join(
             f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
             for i in range(_N_HASHES)
           )} AS BIGINT) AS n_match_full,
           CAST({" + ".join(
             f"CASE WHEN substr(a.m{i}, 32, {_BBIT_HEX}) = "
             f"substr(b.m{i}, 32, {_BBIT_HEX}) THEN 1 ELSE 0 END"
             for i in range(_N_HASHES)
           )} AS BIGINT) AS n_match_b4,
           CAST({" + ".join(
             f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
             for i in range(_N_HASHES)
           )} AS DOUBLE) / {_N_HASHES} AS est_full,
           (CAST({" + ".join(
             f"CASE WHEN substr(a.m{i}, 32, {_BBIT_HEX}) = "
             f"substr(b.m{i}, 32, {_BBIT_HEX}) THEN 1 ELSE 0 END"
             for i in range(_N_HASHES)
           )} AS DOUBLE) / {_N_HASHES} - {_BBIT_C}) / (1.0 - {_BBIT_C})
             AS est_b4
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    """,
)
def llm_minhash_bbit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16 EXT: b-BIT MinHash resolution audit (Li & König 2010) — for
    every stored candidate pair, the Jaccard estimate from FULL
    128-bit signature components vs the debiased estimate from only
    the last 4 bits of each ((m/k − 1/16)/(1 − 1/16)): the number
    that says whether the signature store can ship 32× smaller
    (4 bits vs 128 per component) for this corpus's similarity range.
    ``llm_minhash_estimate_calibration`` audits the estimator against
    TRUE Jaccard; this audits the cheap estimator against the full
    one.

    Scale shape: reads the S21 store twice — candidate pairs from the
    bucketed band table (exchange-free assembly) and signatures from
    the sigs table; the audit joins O(pairs) rows against the
    8-short-column signature relation on the uniform doc key. Nothing
    re-tokenizes: the corpus pass was paid at ingest. Estimates are
    double ratios of exact int match counts (shared literal
    constants), bitwise cross-engine.
    """
    pairs = minhash_candidate_pairs_stored(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    sigs = minhash_sigs_stored(spark, sf_dir)
    a = sigs.alias("a")
    b = sigs.alias("b")
    full_m = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int")
        for i in range(_N_HASHES)
    )
    b4_m = sum(
        (
            F.substring(F.col(f"a.m{i}"), 32, _BBIT_HEX)
            == F.substring(F.col(f"b.m{i}"), 32, _BBIT_HEX)
        ).cast("int")
        for i in range(_N_HASHES)
    )
    return (
        pairs.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            full_m.cast("long").alias("n_match_full"),
            b4_m.cast("long").alias("n_match_b4"),
            (full_m.cast("double") / F.lit(float(_N_HASHES))).alias(
                "est_full"
            ),
            (
                (b4_m.cast("double") / F.lit(float(_N_HASHES)) - _BBIT_C)
                / (1.0 - _BBIT_C)
            ).alias("est_b4"),
        )
    )


#: Norm-outlier screening: the robust |z| cutoff shared with the
#: daily-anomaly lens (Iglewicz–Hoaglin 3.5 at the 0.6745 consistency
#: constant).
_NORM_C = 0.6745
_NORM_CUT = 3.5


@register(
    "llm_embedding_norm_outliers",
    oracle=rf"""
    WITH nrm AS (
      SELECT vec_id, label,
             sqrt(CAST({_sql_int_dot("embedding", "embedding")} AS DOUBLE))
               AS nrm
      FROM embeddings
    ),
    med AS (
      SELECT label, quantile_cont(nrm, 0.5) AS med FROM nrm GROUP BY label
    ),
    mad AS (
      SELECT n.label, quantile_cont(abs(n.nrm - m.med), 0.5) AS mad
      FROM nrm n JOIN med m ON n.label = m.label
      GROUP BY n.label
    )
    SELECT n.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(m.med) AS median_norm,
           MIN(d.mad) AS mad_norm,
           CAST(SUM(CASE WHEN d.mad > 0
                          AND abs({_NORM_C} * (n.nrm - m.med) / d.mad)
                              > {_NORM_CUT}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN d.mad > 0
                          AND abs({_NORM_C} * (n.nrm - m.med) / d.mad)
                              > {_NORM_CUT}
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS outlier_share
    FROM nrm n
    JOIN med m ON n.label = m.label
    JOIN mad d ON n.label = d.label
    GROUP BY n.label
    """,
)
def llm_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4/F57 EXT: embedding NORM-OUTLIER screening — per label, the
    median and MAD of vector norms and how many vectors sit beyond the
    robust |z|>{_NORM_CUT} cutoff: the embedding-table health check
    (a batch of zero vectors, an unnormalized encoder run, or a dtype
    regression all surface as norm outliers before they poison
    retrieval). The A52 robust-z rule applied to vector geometry.

    Exactness: norms are sqrt of EXACT int64 self-dots (the fixed-
    point discipline), so the per-group interpolated percentiles see
    bitwise-identical inputs on both engines (the percentile ≡
    quantile_cont precedent); the z-expression shares its two literal
    constants. Scale shape: one scan computes all norms in codegen;
    two per-label exact percentiles over the O(vectors)-row norm
    relation (two short columns — at 10⁹ vectors the documented
    percentile_approx twin swaps in, same plan); the flag pass joins
    two O(labels)-row broadcasts.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = emb.select(
        "vec_id",
        "label",
        F.sqrt(_int_dot("embedding", "embedding").cast("double")).alias(
            "nrm"
        ),
    )
    med = nrm.groupBy("label").agg(
        F.expr("percentile(nrm, 0.5D)").alias("med")
    )
    mad = (
        nrm.join(F.broadcast(med), "label")
        .select("label", F.abs(F.col("nrm") - F.col("med")).alias("adev"))
        .groupBy("label")
        .agg(F.expr("percentile(adev, 0.5D)").alias("mad"))
    )
    z_out = (F.col("mad") > 0) & (
        F.abs(
            F.lit(_NORM_C) * (F.col("nrm") - F.col("med")) / F.col("mad")
        )
        > _NORM_CUT
    )
    return (
        nrm.join(F.broadcast(med), "label")
        .join(F.broadcast(mad), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("med").alias("median_norm"),
            F.min("mad").alias("mad_norm"),
            F.sum(z_out.cast("long")).cast("long").alias("n_outliers"),
            (
                F.sum(z_out.cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("outlier_share"),
        )
    )


# ---------------------------------------------------------------------------
# Round-12 batch 4: pairwise source JS divergence
# ---------------------------------------------------------------------------

#: floor(ln(2)·1e6) — the micro-nat contribution of a term present in
#: exactly one side of a JS pair (ln(2p/(p+0)) = ln 2), pinned as a
#: shared literal so neither engine's ln(2) evaluates at query time.
_LN2_MICRO = 693_147


@register(
    "llm_js_divergence_source_pairs",
    oracle=rf"""
    WITH sw AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents)
      GROUP BY source, term
    ),
    tot AS (SELECT source, SUM(c) AS n FROM sw GROUP BY source),
    pairrows AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
      FROM sw a
      JOIN sw b ON a.term = b.term AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
    ),
    shared AS (
      SELECT source_a, source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             SUM(ca) AS ca_sum, SUM(cb) AS cb_sum,
             MIN(na) AS na, MIN(nb) AS nb,
             SUM(ca * CAST(floor(ln(
               CAST(2 * ca * nb AS DOUBLE)
                 / CAST(ca * nb + cb * na AS DOUBLE)) * 1000000)
               AS BIGINT)) AS sa_micro,
             SUM(cb * CAST(floor(ln(
               CAST(2 * cb * na AS DOUBLE)
                 / CAST(ca * nb + cb * na AS DOUBLE)) * 1000000)
               AS BIGINT)) AS sb_micro
      FROM pairrows GROUP BY source_a, source_b
    )
    SELECT source_a, source_b, n_shared_terms,
           0.5 * (
             CAST(sa_micro + (na - ca_sum) * {_LN2_MICRO} AS DOUBLE)
               / (CAST(na AS DOUBLE) * 1000000)
             + CAST(sb_micro + (nb - cb_sum) * {_LN2_MICRO} AS DOUBLE)
               / (CAST(nb AS DOUBLE) * 1000000)
           ) AS js_nats
    FROM shared
    """,
)
def llm_js_divergence_source_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F55 EXT: pairwise JENSEN-SHANNON divergence between source
    unigram distributions — the symmetric, bounded (≤ ln 2) drift
    matrix over source pairs: KL (F55) scores each source against the
    corpus MIXTURE, JS says which PAIRS of sources are
    interchangeable (near 0 → merge/drop one; near ln 2 → disjoint
    registers that need separate mixture weights). The distributional
    upgrade of the J33 overlap-coefficient matrix (which counts shared
    documents; this compares what the sources SAY).

    Exactness: one-sided terms contribute exactly (mass/N)·ln 2 —
    folded in CLOSED FORM via the pinned ``_LN2_MICRO`` literal (no
    full-outer join, no engine ln(2)); shared terms get libm ln of an
    exact integer ratio (products ≤ 2^53), floored to micro-nats;
    per-pair totals are exact int64 sums with the final double edge
    shared expression-for-expression. Scale shape: ONE token explode
    → (source, term) hash agg; the pair join is term-keyed with
    fanout bounded by the SOURCE count per term (the J33 shape — S²
    per key, S a handful at any corpus size); everything after the
    agg is O(S² × shared-vocab) and collapses map-side to O(S²).
    """
    ln = _ln_libm()
    docs = load_table(spark, sf_dir, "documents")
    sw = (
        docs.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = sw.groupBy("source").agg(F.sum("c").alias("n"))
    a = sw.alias("a")
    b = sw.alias("b")
    ta = tot.alias("ta")
    tb = tot.alias("tb")
    both = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .join(F.broadcast(ta), F.col("a.source") == F.col("ta.source"))
        .join(F.broadcast(tb), F.col("b.source") == F.col("tb.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.c").alias("ca"),
            F.col("b.c").alias("cb"),
            F.col("ta.n").alias("na"),
            F.col("tb.n").alias("nb"),
        )
    )
    denom = (F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")).cast(
        "double"
    )
    lra = F.floor(
        ln((2 * F.col("ca") * F.col("nb")).cast("double") / denom)
        * F.lit(1_000_000.0)
    ).cast("long")
    lrb = F.floor(
        ln((2 * F.col("cb") * F.col("na")).cast("double") / denom)
        * F.lit(1_000_000.0)
    ).cast("long")
    shared = both.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
        F.sum("ca").alias("ca_sum"),
        F.sum("cb").alias("cb_sum"),
        F.min("na").alias("na"),
        F.min("nb").alias("nb"),
        F.sum(F.col("ca") * lra).alias("sa_micro"),
        F.sum(F.col("cb") * lrb).alias("sb_micro"),
    )
    return shared.select(
        "source_a",
        "source_b",
        "n_shared_terms",
        (
            0.5
            * (
                (
                    F.col("sa_micro")
                    + (F.col("na") - F.col("ca_sum")) * _LN2_MICRO
                ).cast("double")
                / (F.col("na").cast("double") * F.lit(1_000_000.0))
                + (
                    F.col("sb_micro")
                    + (F.col("nb") - F.col("cb_sum")) * _LN2_MICRO
                ).cast("double")
                / (F.col("nb").cast("double") * F.lit(1_000_000.0))
            )
        ).alias("js_nats"),
    )


# ---------------------------------------------------------------------------
# Round-12 batch 5: variance spectrum (PCA-lite), shard-balance audit
# ---------------------------------------------------------------------------


@register(
    "llm_embedding_variance_spectrum",
    oracle=rf"""
    WITH x AS (
      SELECT i - 1 AS i, {_SQL_ISCALE.format(v="e")} AS xi
      FROM (
        SELECT unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      )
    ),
    s AS (
      SELECT i, SUM(xi) AS s, SUM(xi * xi) AS pp, COUNT(*) AS n
      FROM x GROUP BY i
    ),
    v AS (
      SELECT i,
             (CAST(pp AS DOUBLE) / n
              - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             / 1000000000000.0 AS variance
      FROM s
    ),
    q AS (
      SELECT i, variance,
             CAST(floor(variance * 1000000000) AS BIGINT) AS var_q
      FROM v
    ),
    r AS (
      SELECT i, variance,
             ROW_NUMBER() OVER (ORDER BY variance DESC, i) AS rnk,
             SUM(var_q) OVER (ORDER BY variance DESC, i
               ROWS UNBOUNDED PRECEDING) AS cum_q,
             SUM(var_q) OVER () AS total_q
      FROM q
    )
    SELECT CAST(i AS BIGINT) AS dim, variance, CAST(rnk AS BIGINT) AS rnk,
           CAST(cum_q AS DOUBLE) / CAST(total_q AS DOUBLE) AS cum_share
    FROM r
    """,
)
def llm_embedding_variance_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F57 EXT: VARIANCE SPECTRUM — per embedding dimension, its
    variance, rank, and the cumulative variance share of the top-k
    dims in rank order: the PCA-lite screening that says how
    concentrated the representation is BEFORE paying an
    eigendecomposition (cum_share hitting 0.95 by rank 16 licenses the
    Matryoshka/JL 4× index; a flat spectrum says the dims pull their
    weight). The diagonal of F57's covariance with the decision
    attached.

    Exactness: per-dim moment sums are exact int64 over ``_iscale``
    fixed point (the covariance discipline, same oracle expression);
    the cumulative share accumulates integer NANO-QUANTIZED variances
    (floor(var·1e9) of bitwise-equal doubles) because a running
    DOUBLE sum is NOT order-stable across engines even on a pinned
    sort order — DuckDB evaluates window aggregates with a segment
    tree, so its additions associate differently (measured 1-ulp
    drift from rank 31). Scale shape: one posexplode → per-dim hash agg with
    map-side combine (D keys — no skew possible); everything after is
    O(D) rows and one tiny window.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("i", "e")).select(
        "i", _iscale(F.col("e")).alias("xi")
    )
    s = x.groupBy("i").agg(
        F.sum("xi").alias("s"),
        F.sum(F.col("xi") * F.col("xi")).alias("pp"),
        F.count(F.lit(1)).alias("n"),
    )
    v = s.select(
        "i",
        (
            (
                F.col("pp").cast("double") / F.col("n")
                - (F.col("s").cast("double") * F.col("s").cast("double"))
                / (F.col("n").cast("double") * F.col("n").cast("double"))
            )
            / F.lit(1e12)
        ).alias("variance"),
    )
    q = v.select(
        "i",
        "variance",
        F.floor(F.col("variance") * F.lit(1e9)).cast("long").alias("var_q"),
    )
    order = Window.orderBy(F.desc("variance"), "i")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    return q.select(
        F.col("i").cast("long").alias("dim"),
        "variance",
        F.row_number().over(order).cast("long").alias("rnk"),
        (
            F.sum("var_q").over(run).cast("double")
            / F.sum("var_q").over(wall).cast("double")
        ).alias("cum_share"),
    )


#: Shard fan: one hex char of md5(doc_id) → 16 shards (engine-portable
#: strings, the _NB_PREF bucket discipline).
_SHARD_HEX = 1
_SHARD_FAN = 16 ** _SHARD_HEX


@register(
    "llm_shard_balance_report",
    oracle=rf"""
    WITH sharded AS (
      SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, {_SHARD_HEX}) AS shard,
             len({_SQL_TOKENS}) AS n_tok
      FROM documents
    ),
    per AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM sharded GROUP BY shard
    )
    SELECT shard, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE)
             / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share,
           CAST(n_tokens * {_SHARD_FAN} AS DOUBLE)
             / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS balance_ratio
    FROM per
    """,
)
def llm_shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F39 EXT: SHARD-BALANCE audit — hash-assign every document to
    one of {_SHARD_FAN} training shards (md5 of the doc id — the
    assignment a distributed data loader actually uses) and report
    per-shard doc/token mass, token share, and the balance ratio
    (share × fan; 1.0 = perfectly even): the pre-flight check that
    catches token-mass skew before a training run stalls on its
    fattest shard. Interleave order (F39) fixes WITHIN-shard order;
    this audits the split ACROSS shards.

    Exactness: shard keys are md5-prefix strings (identical both
    engines); counts exact int64; two double ratios. Scale shape:
    per-row hash + token count in codegen, one hash agg onto
    {_SHARD_FAN} keys with map-side combine, one {_SHARD_FAN}-row
    window — the cheapest possible full-corpus audit; at a real
    10⁴-shard fan the same plan stands with a wider key domain.
    """
    docs = load_table(spark, sf_dir, "documents")
    sharded = docs.select(
        F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, _SHARD_HEX
        ).alias("shard"),
        F.size(_tokens()).alias("n_tok"),
    )
    per = sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    wall = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(wall).cast("double")
        ).alias("token_share"),
        (
            (F.col("n_tokens") * _SHARD_FAN).cast("double")
            / F.sum("n_tokens").over(wall).cast("double")
        ).alias("balance_ratio"),
    )


# ---------------------------------------------------------------------------
# Round-12 batch 6: shared-prefix report (inference prefix-cache
# planning)
# ---------------------------------------------------------------------------

#: Prefix length (tokens) for the cache-hit simulation — the system
#: prompt / template length class a serving cache keys on.
_PREFIX_K = 8


@register(
    "llm_shared_prefix_report",
    oracle=rf"""
    WITH pref AS (
      SELECT doc_id,
             array_to_string(t[1:{_PREFIX_K}], ' ') AS prefix,
             len(t) AS n_tok
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
      WHERE len(t) >= {_PREFIX_K}
    ),
    grp AS (
      SELECT prefix,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM pref GROUP BY prefix
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_prefixes,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_prefixes,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN n_docs ELSE 0 END) AS BIGINT)
             AS n_docs_sharing,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN n_docs ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n_docs) AS DOUBLE) AS share_docs_sharing,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN (n_docs - 1) ELSE 0 END)
                * {_PREFIX_K} AS BIGINT) AS cacheable_prefix_tokens
    FROM grp
    """,
)
def llm_shared_prefix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F24 EXT: SHARED-PREFIX report — group documents by their first
    {_PREFIX_K} tokens and report how many prefixes are shared, what
    fraction of docs share one, and the token mass a prefix cache
    would serve from cache (one fill per group, the rest are hits):
    the inference-side planning twin of dedup — serving stacks key
    KV-caches on shared prompt prefixes, and a corpus whose docs open
    identically (templates, boilerplate headers) is exactly where
    prefix caching pays.

    Exactness: prefixes are exact token-array slices rendered with a
    single-space joiner (identical both engines); all counts exact
    int64; one double share. Scale shape: per-row slice + join in
    codegen, one hash agg keyed by the prefix string (uniform unless
    the corpus is template-heavy — which is the finding, and a
    map-side combine absorbs it), then a 1-row rollup. The corpus is
    scanned once; nothing joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    pref = docs.select(
        F.array_join(F.slice(_tokens(), 1, _PREFIX_K), " ").alias("prefix"),
        F.size(_tokens()).alias("n_tok"),
    ).filter(F.col("n_tok") >= _PREFIX_K)
    grp = pref.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    shared = F.col("n_docs") >= 2
    return grp.agg(
        F.count(F.lit(1)).cast("long").alias("n_prefixes"),
        F.sum(shared.cast("long")).cast("long").alias("n_shared_prefixes"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(F.when(shared, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("n_docs_sharing"),
        (
            F.sum(F.when(shared, F.col("n_docs")).otherwise(0)).cast("double")
            / F.sum("n_docs").cast("double")
        ).alias("share_docs_sharing"),
        (
            F.sum(F.when(shared, F.col("n_docs") - 1).otherwise(0))
            * _PREFIX_K
        )
        .cast("long")
        .alias("cacheable_prefix_tokens"),
    )


# ---------------------------------------------------------------------------
# S23: write-time hyperplane-bucket store + stored admission read path
# ---------------------------------------------------------------------------

#: Bucket-store codec version — bakes the _iscale fixed-point scale,
#: the plane-weight derivation and the bucket-bit construction; bump
#: when any of them changes. v2: the bucket count is sized by the
#: embeddings bytes and read back from the table's ``_BUCKET_SPEC``.
_ANNB_CODEC_VERSION = 2


def _emb_bucket_rows(emb: DataFrame, n_planes: int) -> DataFrame:
    """(vec_id, bucket, sv, nrm) encode pass — ``_emb_encode`` in the
    S23 store's column order: the query-time admission and the store
    writer both call this, so stored rows are bit-identical to
    query-time ones by construction."""
    return _emb_encode(fan_out_if_narrow(emb), n_planes).select(
        "vec_id", "bucket", "sv", "nrm"
    )


def _ann_admission(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """The embedding admission verdict of each ``batch`` vector against
    the ``corpus`` vectors (both ``_emb_bucket_rows`` relations): the
    corpus mega-buckets drop at ``_ANN_BUCKET_CAP``, each batch vector
    probes its own bucket, and the exact cosine verifies the
    collisions. Shared by the query-time and the stored admission."""
    ok = _capped_buckets(corpus, ["bucket"], _ANN_BUCKET_CAP)
    hits = (
        batch.alias("b")
        .join(F.broadcast(ok), "bucket")
        .join(corpus.alias("c"), "bucket")
        .filter(_pair_cosine("b", "c") >= _NEAR_DUP_COSINE)
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(F.countDistinct("c.vec_id").alias("n_corpus_neighbors"))
    )
    return _admission_verdict(batch.select("vec_id"), hits, "vec_id")


def _emb_bucket_store_path(sf_dir: str, n_planes: int) -> str:
    """S23 store key: the plane count and codec version on top of the
    embeddings fingerprint — a regenerated corpus, a grown geometry
    or a changed encode can never silently serve stale rows."""
    return store_path(
        "annbucket_store",
        sf_dir,
        ("embeddings",),
        f"p{n_planes}_v{_ANNB_CODEC_VERSION}",
    )


def _ensure_emb_bucket_store(
    spark: SparkSession, sf_dir: str, n_planes: int
) -> str:
    """Attach-or-build-once gate for the S23 store: returns the
    session catalog table name holding the bucketed corpus encode.
    Build on FIRST USE per (corpus fingerprint, planes, codec); later
    sessions finding valid files re-ATTACH without re-encoding."""
    import os

    from ..sources.annbucket_store import attach_emb_buckets, write_emb_buckets
    from ..sources.bucketing import bucket_count, data_bytes

    base = ensure_store(
        _emb_bucket_store_path(sf_dir, n_planes),
        lambda tmp: write_emb_buckets(
            _emb_bucket_rows(load_table(spark, sf_dir, "embeddings"), n_planes),
            os.path.join(tmp, "buckets"),
            bucket_count(
                data_bytes(os.path.join(sf_dir, "embeddings.parquet"))
            ),
        ),
    )
    return attach_emb_buckets(spark, os.path.join(base, "buckets"))


def emb_buckets_stored(
    spark: SparkSession, sf_dir: str, n_planes: int
) -> DataFrame:
    """(vec_id, bucket, sv, nrm) from the S23 store — a catalog table
    bucketed on the bucket key, so probe joins against the corpus
    side are exchange-free."""
    return spark.table(_ensure_emb_bucket_store(spark, sf_dir, n_planes))


@register(
    "llm_incremental_embedding_admission_stored",
    oracle=QUERIES["llm_incremental_embedding_admission"].oracle,
)
def llm_incremental_embedding_admission_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J35 production layout — embedding admission over the WRITE-TIME
    BUCKET STORE (``sources/annbucket_store.py``, S23): the corpus
    side's encode pass (64 fixed-point casts + {_N_PLANES} plane dots
    per vector — the dominant cost of the admission lens at 10⁹
    vectors, 6.8× growth at the 100× probe in the query-time form)
    runs ONCE at ingest, persisted as a catalog table bucketed on the
    bucket key. The read path encodes only the BATCH slice; the
    corpus side is a store scan whose probe-join shuffle was pre-paid
    at write time. Completes the store family across all four dedup
    geometries: exact keys (cheap per run), S21 MinHash bands, S22
    SimHash fingerprints, S23 embedding buckets.

    Exactness: the writer runs ``_emb_bucket_rows`` — the SAME
    expressions this read path applies to the batch slice at query
    time — so this returns bit-identical decisions and reuses its
    oracle unchanged (write-time encoding is a physical-layout
    change, not a semantic one; pinned in
    tests/test_annbucket_store.py).

    The BATCH side is encoded AT QUERY TIME from the raw embeddings
    relation — a genuinely new incoming batch cannot exist in a
    write-time store — and only the CORPUS side is a store scan; the
    batch slice of the stored relation is filtered out so a re-run
    after the batch has been ingested still demonstrates the
    production shape.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n_planes = _planes_at_oracle_floor(
        emb.count(), "llm_incremental_embedding_admission_stored"
    )
    is_batch = (F.col("vec_id") % _INC_ND_MOD) == _INC_ND_REM
    corpus = emb_buckets_stored(spark, sf_dir, n_planes).filter(~is_batch)
    # Batch-side encode stays lineage-visible: the pinned store-read
    # invariant counts this plan's parquet scans against the twin's
    # (tests/test_annbucket_store.py).
    batch = _emb_bucket_rows(emb.filter(is_batch), n_planes)
    return _ann_admission(batch, corpus)


# ---------------------------------------------------------------------------
# Round-12 late batch 2: SimHash bit-balance audit, vocabulary
# coverage curve
# ---------------------------------------------------------------------------


@register(
    "llm_simhash_bit_balance",
    oracle=rf"""
    WITH fps AS (
      {_SQL_SIMHASH_ROWS}
    ),
    bits AS (
      SELECT j AS bit_idx,
             CAST(SUM(CASE WHEN substr(simhash, j + 1, 1) = '1'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_set,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM fps, (SELECT unnest(range({_SIMH_BITS})) AS j)
      GROUP BY j
    )
    SELECT CAST(bit_idx AS BIGINT) AS bit_idx, n_set, n_docs,
           CAST(n_set AS DOUBLE) / CAST(n_docs AS DOUBLE) AS set_frac,
           abs(CAST(2 * n_set - n_docs AS DOUBLE))
             / CAST(n_docs AS DOUBLE) AS imbalance
    FROM bits
    """,
)
def llm_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S22 EXT: SimHash BIT-BALANCE audit — per fingerprint bit
    position, the fraction of corpus documents with that bit set and
    its imbalance |2p−1|: a healthy SimHash has every bit near 0.5
    (each carries a full bit of discrimination); a skewed bit wastes
    Hamming resolution and inflates block collisions. The S22 audit
    twin of the S21 band-coverage curve — band coverage asks "how
    many bands does THIS corpus need", this asks "are the 64 bits
    pulling their weight on THIS corpus".

    Scale shape: reads the S22 fingerprint store (the corpus vote
    pass never runs at audit time) — one (doc_id, simhash) scan, a
    64-way in-row explode of single chars, and a hash agg onto 64
    keys with map-side combine. Counts exact int64; two double ratios.
    """
    fps = simhash_fps_stored(spark, sf_dir)
    bits = fps.select(
        F.explode(F.sequence(F.lit(0), F.lit(_SIMH_BITS - 1))).alias(
            "bit_idx"
        ),
        "simhash",
    ).select(
        "bit_idx",
        F.substring(F.col("simhash"), F.col("bit_idx") + 1, F.lit(1)).alias(
            "bit"
        ),
    )
    return (
        bits.groupBy("bit_idx")
        .agg(
            F.sum((F.col("bit") == "1").cast("long"))
            .cast("long")
            .alias("n_set"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .select(
            F.col("bit_idx").cast("long").alias("bit_idx"),
            "n_set",
            "n_docs",
            (
                F.col("n_set").cast("double") / F.col("n_docs").cast("double")
            ).alias("set_frac"),
            (
                F.abs((2 * F.col("n_set") - F.col("n_docs")).cast("double"))
                / F.col("n_docs").cast("double")
            ).alias("imbalance"),
        )
    )


#: Vocabulary budget checkpoints for the coverage curve.
_VOCAB_KS = [1_000, 4_000, 16_000]


@register(
    "llm_vocab_coverage_curve",
    oracle=rf"""
    WITH tc AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest({_SQL_TOKENS}) AS term FROM documents)
      GROUP BY term
    ),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM tc)
    {" UNION ALL ".join(
      f'''SELECT CAST({k} AS BIGINT) AS vocab_size,
           CAST((SELECT SUM(c) FROM (
              SELECT c FROM tc ORDER BY c DESC, term LIMIT {k})) AS BIGINT)
             AS tokens_covered,
           CAST((SELECT SUM(c) FROM (
              SELECT c FROM tc ORDER BY c DESC, term LIMIT {k})) AS DOUBLE)
             / CAST(tot.n AS DOUBLE) AS coverage,
           CAST(tot.v AS BIGINT) AS n_types
      FROM tot'''
      for k in _VOCAB_KS
    )}
    """,
)
def llm_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F28 EXT: VOCABULARY COVERAGE curve — the fraction of corpus
    token mass covered by the top-k most frequent terms at the
    standard budget checkpoints ({", ".join(map(str, _VOCAB_KS))}):
    the number that sizes a tokenizer vocabulary BEFORE training one
    (coverage 0.98 at 16k says a 32k BPE vocab is headroom, not
    need). F28 audits a FIXED vocab's coverage; this sweeps the
    budget axis. The Zipf slope (A29) models the same distribution;
    this reads the decision quantity straight off it.

    Exactness: term counts exact int64 from one hash agg; each
    checkpoint's covered mass is an exact int64 sum over a
    deterministic top-k (count DESC, term ASC — TakeOrdered, never a
    global rank window: the setsim lesson); the coverage share is one
    double division. Scale shape: ONE token explode → vocab hash agg
    with map-side combine; each checkpoint is a distributed
    TakeOrdered of k short rows + a 1-row sum — O(vocab log k), the
    corpus is scanned once.
    """
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tc.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    out = None
    for k in _VOCAB_KS:
        topk = tc.orderBy(F.desc("c"), "term").limit(k)
        row = (
            topk.agg(F.sum("c").alias("covered"))
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(k).cast("long").alias("vocab_size"),
                F.col("covered").cast("long").alias("tokens_covered"),
                (
                    F.col("covered").cast("double")
                    / F.col("n").cast("double")
                ).alias("coverage"),
                F.col("v").cast("long").alias("n_types"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Round-13 batch 1: dedup threshold sweep, semantic centroid outliers
# ---------------------------------------------------------------------------

#: Jaccard cutoffs swept by the threshold-sensitivity report. Literal
#: decimal strings parse to identical doubles on both engines.
_SWEEP_THRESHOLDS = ["0.5", "0.6", "0.7", "0.8", "0.9"]


@register(
    "llm_dedup_threshold_sweep",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS}
    SELECT t.threshold,
           CAST(COUNT(j.doc_a) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT j.doc_b) AS BIGINT) AS n_docs_removed,
           CAST(COUNT(DISTINCT j.doc_b) AS DOUBLE)
             / (SELECT COUNT(*) FROM documents) AS removed_share
    FROM (SELECT unnest([{", ".join(_SWEEP_THRESHOLDS)}]) AS threshold) t
    LEFT JOIN jac j ON j.jaccard >= t.threshold
    GROUP BY t.threshold
    """,
)
def llm_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 EXT: DEDUP THRESHOLD SENSITIVITY sweep — the tuning report
    behind every near-dup deployment: for each Jaccard cutoff in
    {{0.5 … 0.9}}, how many verified candidate pairs survive and how
    many documents the keep-first policy would remove (distinct
    higher-id member of a surviving pair), as a count and as a share
    of the corpus. Pipelines pick their threshold from exactly this
    curve (too low → aggressive deletion, too high → residual dups);
    computing all five points from ONE candidate+verify pass is the
    whole economy.

    Exactness: Jaccard is an exact int ratio (shared with
    ``llm_ngram_jaccard_topk``); thresholds are shared decimal
    literals, so the ``>=`` compares identical doubles; counts exact
    int64.

    Scale shape: reads the S24 verified-pair store
    (``_ngram_jaccard_pairs_stored``) — the candidate generation
    (S21 bands) AND the exact-Jaccard verify are both write-time
    passes, so the sweep explodes only the O(|verified pairs|)
    parquet relation 5× and hash-aggregates; the threshold axis
    never touches the corpus. At 100 TB the sweep is a pair-scale
    scan, and the one-time verify cost is shared with every other
    audit in the family.
    """
    pairs = _ngram_jaccard_pairs_stored(spark, sf_dir)
    thresholds = F.array(
        *[F.expr(f"CAST({t} AS DOUBLE)") for t in _SWEEP_THRESHOLDS]
    )
    hits = (
        pairs.select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.explode(thresholds).alias("threshold"),
        )
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("doc_b").cast("long").alias("n_docs_removed"),
        )
    )
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    axis = spark.range(1).select(
        F.explode(thresholds).alias("threshold")
    )
    return (
        axis.join(hits, "threshold", "left")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_removed", F.lit(0))
            .cast("long")
            .alias("n_docs_removed"),
            (
                F.coalesce("n_docs_removed", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("removed_share"),
        )
    )


def _sql_hug_dot(a: str, b: str) -> str:
    """Exact HUGEINT dot of two already-int-scaled lists (DuckDB side
    of the decimal-fold discipline in ``_dec_dot``)."""
    return (
        f"CAST(list_aggregate(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(x[1] AS HUGEINT) * x[2]), 'sum') AS HUGEINT)"
    )


def _dec_dot(a: Column | str, b: Column | str) -> Column:
    """Exact decimal(38,0) dot of two already-int-scaled (int64) array
    columns — order-free and overflow-safe at ANY corpus size (the
    int64 ``_int_dot`` fold is bounded only when one side is a raw
    per-row vector; centroid SUM vectors grow with group size)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: x.cast("decimal(19,0)") * y.cast("decimal(19,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v,
    )


@register(
    "llm_semantic_outlier_docs",
    oracle=rf"""
    WITH sv AS (
      SELECT vec_id, label,
             list_transform(embedding,
               v -> {_SQL_ISCALE.format(v="v")}) AS x
      FROM embeddings
    ),
    comp AS (
      -- parallel unnest = positional explode (DuckDB has no WITH
      -- ORDINALITY; lockstep unnests carry the index)
      SELECT label, i, SUM(v) AS s
      FROM (SELECT label, unnest(x) AS v,
                   unnest(range(1, len(x) + 1)) AS i
            FROM sv)
      GROUP BY label, i
    ),
    cent AS (
      SELECT label, list(s ORDER BY i) AS cs FROM comp GROUP BY label
    ),
    cosr AS (
      SELECT sv.vec_id, sv.label,
             CAST({_sql_hug_dot("sv.x", "c.cs")} AS DOUBLE)
               / (sqrt(CAST({_sql_int_dot("e.embedding", "e.embedding")}
                            AS DOUBLE))
                  * sqrt(CAST({_sql_hug_dot("c.cs", "c.cs")} AS DOUBLE)))
               AS cos_c
      FROM sv
      JOIN cent c ON c.label = sv.label
      JOIN embeddings e ON e.vec_id = sv.vec_id
    ),
    med AS (
      SELECT label, quantile_cont(cos_c, 0.5) AS med FROM cosr GROUP BY label
    ),
    mad AS (
      SELECT r.label, quantile_cont(abs(r.cos_c - m.med), 0.5) AS mad
      FROM cosr r JOIN med m ON r.label = m.label
      GROUP BY r.label
    )
    SELECT r.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(m.med) AS median_cos,
           MIN(d.mad) AS mad_cos,
           CAST(SUM(CASE WHEN d.mad > 0
                          AND {_NORM_C} * (m.med - r.cos_c) / d.mad
                              > {_NORM_CUT}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN d.mad > 0
                          AND {_NORM_C} * (m.med - r.cos_c) / d.mad
                              > {_NORM_CUT}
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS outlier_share
    FROM cosr r
    JOIN med m ON r.label = m.label
    JOIN mad d ON r.label = d.label
    GROUP BY r.label
    """,
)
def llm_semantic_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4/J7 EXT: SEMANTIC OUTLIER screening — per label, vectors
    whose DIRECTION sits far from the label centroid (robust one-sided
    z of cosine-to-centroid below the group median): the curation op
    that catches mislabeled docs, encoder glitches and off-topic
    contamination that norm screening (magnitude) cannot see. The
    centroid enters as the per-label component-SUM vector — cosine to
    the sum equals cosine to the mean (scaling cancels), so no
    division by group size ever happens and the geometry stays exact.

    Exactness: component sums are exact int64 (fixed-point
    discipline); both centroid-side dots fold in DECIMAL(38,0) /
    HUGEINT (``_dec_dot`` — the int64 fold would overflow once group
    sums grow with corpus size), so every cosine input is exact and
    the per-label interpolated percentiles see bitwise-identical
    doubles (the ``llm_embedding_norm_outliers`` precedent); the
    outlier rule shares its two literal constants.

    Scale shape: one posexplode+hash-agg computes all centroids (64
    rows per label); the O(labels)-row centroid relation BROADCASTS
    back onto the scan, so scoring is one map pass; two per-label
    exact percentiles over a two-column relation (the documented
    percentile_approx twin swaps in at 10⁹ rows); no vector ever
    joins another vector.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sv = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", _iscale).alias("x"),
        _int_dot("embedding", "embedding").alias("xx"),
    )
    comp = sv.select(
        "label", F.posexplode("x").alias("i", "v")
    ).groupBy("label", "i").agg(F.sum("v").alias("s"))
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))),
            lambda st: st["s"],
        ).alias("cs")
    )
    # Three consumers (the median agg, the MAD agg, the final report)
    # read the scored relation; each recompute was a full encode +
    # centroid agg + two decimal(38,0) dot folds per row. Materialize
    # the 3-column scores once.
    cosr = pin(
        sv.join(F.broadcast(cent), "label").select(
            "vec_id",
            "label",
            (
                _dec_dot("x", "cs").cast("double")
                / (
                    F.sqrt(F.col("xx").cast("double"))
                    * F.sqrt(_dec_dot("cs", "cs").cast("double"))
                )
            ).alias("cos_c"),
        )
    )
    med = cosr.groupBy("label").agg(
        F.expr("percentile(cos_c, 0.5D)").alias("med")
    )
    mad = (
        cosr.join(F.broadcast(med), "label")
        .select("label", F.abs(F.col("cos_c") - F.col("med")).alias("adev"))
        .groupBy("label")
        .agg(F.expr("percentile(adev, 0.5D)").alias("mad"))
    )
    low = (F.col("mad") > 0) & (
        F.lit(_NORM_C) * (F.col("med") - F.col("cos_c")) / F.col("mad")
        > _NORM_CUT
    )
    return (
        cosr.join(F.broadcast(med), "label")
        .join(F.broadcast(mad), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("med").alias("median_cos"),
            F.min("mad").alias("mad_cos"),
            F.sum(low.cast("long")).cast("long").alias("n_outliers"),
            (
                F.sum(low.cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("outlier_share"),
        )
    )


# ---------------------------------------------------------------------------
# Round-13 batch 2: sign-bit Hamming ANN, cross-source near-dup matrix
# ---------------------------------------------------------------------------

#: Verified-Jaccard cutoff for the cross-source near-dup matrix —
#: a shared decimal literal (same discipline as _SWEEP_THRESHOLDS).
_XSRC_J = "0.7"


@register(
    "llm_sign_hamming_topk",
    oracle=rf"""
    WITH q AS (
      SELECT list_transform(embedding,
               v -> {_SQL_ISCALE.format(v="v")}) AS qx,
             embedding AS qe
      FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
    ),
    d AS (
      SELECT e.vec_id, e.label,
             list_transform(e.embedding,
               v -> {_SQL_ISCALE.format(v="v")}) AS x,
             e.embedding AS de
      FROM embeddings e WHERE e.vec_id <> {_QUERY_VEC_ID}
    )
    SELECT d.vec_id, d.label,
           CAST(list_aggregate(list_transform(list_zip(d.x, q.qx),
                 p -> CASE WHEN (p[1] >= 0) <> (p[2] >= 0)
                           THEN 1 ELSE 0 END), 'sum') AS BIGINT)
             AS hamming,
           CAST({_sql_int_dot("d.de", "q.qe")} AS DOUBLE)
             / (sqrt(CAST({_sql_int_dot("d.de", "d.de")} AS DOUBLE))
                * sqrt(CAST({_sql_int_dot("q.qe", "q.qe")} AS DOUBLE)))
             AS cosine
    FROM d, q
    ORDER BY hamming, d.vec_id
    LIMIT 10
    """,
)
def llm_sign_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F38/J8 EXT: SIGN-BIT HAMMING top-k — the 1-bit-per-dimension
    binary sketch (sign of each component) ranked by Hamming distance
    to the query's sketch, with each hit's exact cosine alongside: the
    cheapest ANN codec there is (64 dims → one machine word; distance
    = popcount of an XOR) and the standard re-rank front end when the
    float vectors are too big to scan. Completes the sketch family:
    SimHash binarizes token sets, this binarizes the embedding itself.

    Exactness: signs are taken on the fixed-point ints (zero counts
    as non-negative on both engines); Hamming is an exact int sum;
    the reported cosine is the exact int-dot ratio.

    Scale shape: the 1-row query sketch broadcasts; every candidate
    is scored in one codegen map stage (no shuffle, no join) and
    TakeOrdered keeps k rows per partition — at 10⁹ vectors the scan
    reads 8-byte sketches from a store (the S20 discipline applies
    verbatim), not 256-byte floats; ties break on vec_id so the top-k
    is deterministic.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.transform("embedding", _iscale).alias("qx"),
        F.col("embedding").alias("qe"),
    )
    d = emb.filter(F.col("vec_id") != _QUERY_VEC_ID).select(
        "vec_id",
        "label",
        F.transform("embedding", _iscale).alias("x"),
        F.col("embedding").alias("de"),
    )
    ham = _sign_hamming("x", "qx")
    return (
        d.join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            ham.alias("hamming"),
            (
                _int_dot("de", "qe").cast("double")
                / (
                    F.sqrt(_int_dot("de", "de").cast("double"))
                    * F.sqrt(_int_dot("qe", "qe").cast("double"))
                )
            ).alias("cosine"),
        )
        .orderBy("hamming", "vec_id")
        .limit(10)
    )


@register(
    "llm_cross_source_neardup_matrix",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS},
    near AS (SELECT * FROM jac WHERE jaccard >= {_XSRC_J}),
    tot AS (SELECT COUNT(*) AS n FROM near)
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot) AS pair_share
    FROM near
    JOIN documents da ON da.doc_id = near.doc_a
    JOIN documents db ON db.doc_id = near.doc_b
    GROUP BY 1, 2
    """,
)
def llm_cross_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J33 EXT: CROSS-SOURCE NEAR-DUP MATRIX — for every source
    pair, how many VERIFIED near-duplicate pairs (exact word-3-gram
    Jaccard ≥ {_XSRC_J} on the S21 band-store candidates) straddle
    it. The near-dup complement of ``llm_cross_source_overlap``
    (which counts EXACT content-key collisions): mirrors with light
    edits, syndicated boilerplate, and scraper double-coverage show
    up here and nowhere else, and the matrix is how a pipeline
    decides which source to demote when cross-source contamination
    is found.

    Exactness: Jaccard is the exact int ratio; the cutoff is a shared
    decimal literal; counts exact int64; one double share.

    Scale shape: the verified pair relation is an S24 store scan
    (``_ngram_jaccard_pairs_stored`` — candidates and verify both
    pre-paid at write time); the source attribution joins move only
    (doc_id, source) pairs — never text — and the final matrix is an
    O(sources²)-row hash agg. The 1-row total broadcasts for the
    share column.
    """
    near = _ngram_jaccard_pairs_stored(spark, sf_dir).filter(
        F.col("jaccard") >= F.expr(f"CAST({_XSRC_J} AS DOUBLE)")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da, db = docs.alias("da").hint("merge"), docs.alias("db").hint("merge")
    attributed = (
        near.join(da, F.col("doc_a") == F.col("da.doc_id"))
        .join(db, F.col("doc_b") == F.col("db.doc_id"))
        .select(
            F.least("da.source", "db.source").alias("source_a"),
            F.greatest("da.source", "db.source").alias("source_b"),
        )
    )
    tot = attributed.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        attributed.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (
                F.col("n_pairs").cast("double")
                / F.col("n_total").cast("double")
            ).alias("pair_share"),
        )
    )


# ---------------------------------------------------------------------------
# Round-13 batch 3: IVF cell-balance audit
# ---------------------------------------------------------------------------


@register(
    "llm_ivf_cell_balance",
    oracle=f"""
    WITH {_SQL_CELL_CENTROIDS},
    {_SQL_NEAREST_CELL},
    sizes AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM best GROUP BY cell
    ),
    axis AS (SELECT DISTINCT cell FROM cq)
    SELECT a.cell,
           CAST(COALESCE(z.n_vecs, 0) AS BIGINT) AS n_vecs,
           CAST(COALESCE(z.n_vecs, 0) AS DOUBLE)
             / (SELECT COUNT(*) FROM s) AS size_share,
           CAST(COALESCE(z.n_vecs, 0) AS DOUBLE)
             * (SELECT COUNT(*) FROM axis) / (SELECT COUNT(*) FROM s)
             AS balance_ratio
    FROM axis a LEFT JOIN sizes z ON z.cell = a.cell
    """,
)
def llm_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F38b EXT: IVF CELL-BALANCE audit — per inverted-list cell, how
    many vectors the nearest-quantized-centroid assignment puts there,
    its corpus share, and its balance ratio (share × n_cells; 1.0 =
    perfectly even). THE health metric of an IVF index: a hot cell
    means nprobe-bounded queries still scan a corpus-scale list (the
    ANN latency cliff), an empty cell means wasted fanout — either
    reading says re-train the coarse quantizer. Shares the exact
    quantized-centroid assignment of ``llm_ivf_topk``, so the audit
    measures the index the queries actually use.

    Exactness: assignment is the integer (d2, cell) argmin over
    quantized centroids (the llm_ivf_topk discipline — no double
    folds); counts exact int64; two double ratios of exact ints.

    Scale shape: the SF-constant cell table broadcasts; assignment is
    one codegen map stage (array argmin per row — no crossJoin
    fanout, no shuffle-per-cell); the size agg shuffles O(cells)
    rows. At 10⁹ vectors this is a scan + one tiny hash agg — the
    same pass the S20 store writer already runs, so in production
    the audit reads the store's partition sizes for free.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sv = _scaled(emb)
    # O(cells) rows, but each recompute was a full 64-way posexplode +
    # two-level agg over the corpus — and this relation feeds THREE
    # subtrees (the broadcast centroid list, the cell count, the axis
    # join). Materialize once.
    cell_rows = pin(ivf_quantized_cells(emb))
    sizes = (
        sv.crossJoin(F.broadcast(_packed_cells(cell_rows)))
        .select(_nearest_cell(F.col("sv")).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )
    totals = cell_rows.agg(
        F.count(F.lit(1)).alias("n_cells")
    ).crossJoin(emb.agg(F.count(F.lit(1)).alias("n_all")))
    return (
        cell_rows.select("cell")
        .join(sizes, "cell", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "cell",
            F.coalesce("n_vecs", F.lit(0)).cast("long").alias("n_vecs"),
            (
                F.coalesce("n_vecs", F.lit(0)).cast("double")
                / F.col("n_all").cast("double")
            ).alias("size_share"),
            (
                F.coalesce("n_vecs", F.lit(0)).cast("double")
                * F.col("n_cells").cast("double")
                / F.col("n_all").cast("double")
            ).alias("balance_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Round-13 batch 4: embedding coverage audit, LSH cap-loss audit,
# dedup length-bias audit
# ---------------------------------------------------------------------------


@register(
    "llm_embedding_coverage_audit",
    oracle="""
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(*) FROM embeddings) AS n_vecs,
           (SELECT COUNT(*) FROM documents d
             WHERE EXISTS (SELECT 1 FROM embeddings e
                            WHERE e.vec_id = d.doc_id)) AS n_embedded,
           (SELECT COUNT(*) FROM embeddings e
             WHERE NOT EXISTS (SELECT 1 FROM documents d
                                WHERE d.doc_id = e.vec_id)) AS n_orphan_vecs,
           CAST((SELECT COUNT(*) FROM documents d
                  WHERE EXISTS (SELECT 1 FROM embeddings e
                                 WHERE e.vec_id = d.doc_id)) AS DOUBLE)
             / (SELECT COUNT(*) FROM documents) AS coverage
    """,
)
def llm_embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21/J9 EXT: EMBEDDING COVERAGE audit — the vector-table twin of
    the FK integrity audit: how many documents have an embedding row
    (vec_id = doc_id), how many vectors point at no document, and the
    corpus coverage share. Run before any semantic dedup / ANN stage:
    a coverage gap means the "near-dup free" guarantee silently
    excludes the unembedded slice, and orphan vectors mean the encode
    job read a stale corpus.

    Exactness: exact int64 counts, one double ratio.

    Scale shape: two semi/anti joins on uniform 8-byte keys (the
    FK-audit shape) aggregated to single rows — at any scale this
    moves ids only; the five scalars combine with 1-row cross joins.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_vecs = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    n_embedded = (
        docs.join(emb, docs.doc_id == emb.vec_id, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_embedded"))
    )
    n_orphan = (
        emb.join(docs, docs.doc_id == emb.vec_id, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan_vecs"))
    )
    return (
        n_docs.crossJoin(F.broadcast(n_vecs))
        .crossJoin(F.broadcast(n_embedded))
        .crossJoin(F.broadcast(n_orphan))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("n_embedded").cast("long").alias("n_embedded"),
            F.col("n_orphan_vecs").cast("long").alias("n_orphan_vecs"),
            (
                F.col("n_embedded").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("coverage"),
        )
    )


@register(
    "llm_lsh_cap_loss_audit",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_BANDS},
    bsz AS (
      SELECT band_idx, key, COUNT(*) AS sz
      FROM bands GROUP BY band_idx, key
    )
    SELECT CAST(band_idx AS BIGINT) AS band_idx,
           CAST(COUNT(CASE WHEN sz > 1 THEN 1 END) AS BIGINT)
             AS n_buckets,
           CAST(COUNT(CASE WHEN sz > {_LSH_BUCKET_CAP} THEN 1 END) AS BIGINT)
             AS n_capped,
           CAST(COALESCE(SUM(CASE WHEN sz > {_LSH_BUCKET_CAP}
                                  THEN sz END), 0) AS BIGINT)
             AS docs_in_capped,
           CAST(COALESCE(SUM(CASE WHEN sz > {_LSH_BUCKET_CAP}
                                  THEN sz * (sz - 1) END), 0) // 2 AS BIGINT)
             AS pairs_suppressed
    FROM bsz
    GROUP BY band_idx
    """,
)
def llm_lsh_cap_loss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 EXT: LSH CAP-LOSS audit — the integrity report for the
    ``_LSH_BUCKET_CAP`` recall bound every banded dedup query carries:
    per band, how many multi-doc buckets exist, how many exceed the
    cap (and are dropped whole by the pair generator), how many docs
    sit inside dropped buckets, and how many candidate pairs that
    suppresses. The documented recall contract, MEASURED per corpus —
    when pairs_suppressed spikes (a boilerplate flood hashing into
    one bucket), the pipeline raises the cap or pre-filters the
    boilerplate, and this is the number that says so.

    Reads the S21 band store: bucket sizes are one exchange-free
    groupBy on the store's (band_idx, key) bucketing, and everything
    after is an O(bands)-row aggregate. Counts exact int64 at any
    magnitude: both engines sum the always-even product ``sz*(sz-1)``
    in integer arithmetic and halve the integral sum afterwards
    (``shiftright`` / ``// 2``) — no double detour, so exactness does
    not stop at 2^53.

    Scale shape: the only corpus-proportional relation is the stored
    band table; its bucket-size agg is map-side combinable and
    shuffle-free on the bucketed layout. Nothing expands pairs —
    the audit counts what the generator would NOT expand.
    """
    bands = minhash_bands_stored(spark, sf_dir)
    bsz = bands.groupBy("band_idx", "key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    capped = F.col("sz") > _LSH_BUCKET_CAP
    return bsz.groupBy(F.col("band_idx").cast("long").alias("band_idx")).agg(
        F.sum((F.col("sz") > 1).cast("long")).cast("long").alias("n_buckets"),
        F.sum(capped.cast("long")).cast("long").alias("n_capped"),
        F.coalesce(
            F.sum(F.when(capped, F.col("sz"))), F.lit(0)
        ).cast("long").alias("docs_in_capped"),
        F.shiftright(
            F.coalesce(
                F.sum(
                    F.when(
                        capped,
                        F.col("sz").cast("long") * (F.col("sz") - F.lit(1)),
                    )
                ),
                F.lit(0).cast("long"),
            ),
            1,
        ).cast("long").alias("pairs_suppressed"),
    )


@register(
    "llm_dedup_length_bias",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS},
    removed AS (
      SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard >= {_XSRC_J}
    ),
    flagged AS (
      SELECT d.source, d.n_chars,
             EXISTS (SELECT 1 FROM removed r WHERE r.doc_id = d.doc_id)
               AS is_removed
      FROM documents d
    )
    SELECT source,
           CAST(SUM(CASE WHEN is_removed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN NOT is_removed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN is_removed THEN n_chars ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN is_removed THEN 1 ELSE 0 END), 0)
             AS mean_chars_removed,
           CAST(SUM(CASE WHEN NOT is_removed THEN n_chars ELSE 0 END)
                AS DOUBLE)
             / NULLIF(SUM(CASE WHEN NOT is_removed THEN 1 ELSE 0 END), 0)
             AS mean_chars_kept
    FROM flagged
    GROUP BY source
    """,
)
def llm_dedup_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/A13 EXT: DEDUP LENGTH-BIAS audit — per source, the mean
    length of documents the keep-first near-dup policy would REMOVE
    (verified Jaccard ≥ {_XSRC_J}, higher-id member) versus the mean
    length of what it keeps. Dedup is supposed to delete redundancy,
    not systematically delete LONG documents — a removed-mean far
    above the kept-mean says the shingle geometry over-matches long
    docs and the training mix is about to lose its long-context tail.

    Exactness: length sums are exact int64 over the int n_chars
    column; means are double ratios of exact ints (NULL when a side
    is empty, identically on both engines).

    Scale shape: the removal set derives from the S24 verified-pair
    store (``_ngram_jaccard_pairs_stored``); the flag join is a LEFT
    SEMI on doc_id against an O(removed) id set; the report is a
    per-source hash agg over (source, n_chars, flag) — no text
    moves, and the audit adds one id-set join to the one-time verify
    pass it audits.
    """
    removed = (
        _ngram_jaccard_pairs_stored(spark, sf_dir)
        .filter(F.col("jaccard") >= F.expr(f"CAST({_XSRC_J} AS DOUBLE)"))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_removed", F.lit(True))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    flagged = docs.join(removed, "doc_id", "left").select(
        "source",
        "n_chars",
        F.coalesce("is_removed", F.lit(False)).alias("is_removed"),
    )
    rm = F.col("is_removed")
    n_rm = F.sum(rm.cast("long"))
    n_kp = F.sum((~rm).cast("long"))
    return flagged.groupBy("source").agg(
        n_rm.cast("long").alias("n_removed"),
        n_kp.cast("long").alias("n_kept"),
        (
            F.sum(F.when(rm, F.col("n_chars")).otherwise(0)).cast("double")
            / F.nullif(n_rm, F.lit(0))
        ).alias("mean_chars_removed"),
        (
            F.sum(F.when(~rm, F.col("n_chars")).otherwise(0)).cast("double")
            / F.nullif(n_kp, F.lit(0))
        ).alias("mean_chars_kept"),
    )


# ---------------------------------------------------------------------------
# Round-13 batch 6: multimodal binary payload dedup (first ORACLE-
# carrying multimodal query — the payload is a pure function of the
# id, so DuckDB can rebuild the same bytes)
# ---------------------------------------------------------------------------


@register(
    "llm_media_payload_dedup",
    oracle="""
    WITH ids AS (SELECT doc_id AS media_id FROM documents),
    payload AS (
      -- the media_from_documents hash-chain, rebuilt in SQL: hex
      -- concat == byte concat, one from_hex at the end
      SELECT media_id,
             ['image', 'audio', 'video'][(media_id % 3) + 1] AS kind,
             string_agg(md5(CAST(media_id AS VARCHAR) || ':'
                            || CAST(j AS VARCHAR)), ''
                        ORDER BY j) AS hexdata
      FROM ids, UNNEST(range(13)) t(j)
      WHERE j < 8 + media_id % 5
      GROUP BY media_id
    ),
    crawl AS (
      SELECT kind, hexdata FROM payload
      UNION ALL
      SELECT kind, hexdata FROM payload
    ),
    keyed AS (
      -- DuckDB's md5 takes VARCHAR only, so the content key is the
      -- md5 of the LOWERCASE HEX of the payload on BOTH engines — a
      -- bijective re-encoding, so grouping is identical to hashing
      -- the raw bytes
      SELECT kind,
             md5(hexdata) AS content_key,
             CAST(len(hexdata) / 2 AS BIGINT) AS n_bytes
      FROM crawl
    ),
    grp AS (
      SELECT kind, content_key,
             COUNT(*) AS copies,
             MIN(n_bytes) AS n_bytes
      FROM keyed
      GROUP BY kind, content_key
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(SUM(copies) AS BIGINT) AS n_rows,
           CAST(SUM(copies - 1) AS BIGINT) AS n_dup_rows,
           CAST(SUM(copies * n_bytes) AS BIGINT) AS bytes_total,
           CAST(SUM(n_bytes) AS BIGINT) AS bytes_unique,
           1.0 - CAST(SUM(n_bytes) AS DOUBLE)
                   / CAST(SUM(copies * n_bytes) AS DOUBLE)
             AS savings_ratio
    FROM grp
    GROUP BY kind
    """,
)
def llm_media_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 EXT over BINARY media columns — the first ORACLE-carrying
    multimodal query: exact payload dedup across a simulated
    re-crawl (the corpus unioned with an id-shifted copy carrying
    byte-identical payloads — what a second crawl of the same CDN
    looks like), reporting per modality the unique-payload count,
    duplicate rows, and the storage-savings ratio content-addressed
    dedup would deliver. The multimodal twin of
    ``llm_exact_dedup_documents``: hash the BYTES, never decode.

    The payload is the ``media_from_documents`` hash-chain — a pure
    function of the id — so DuckDB rebuilds the identical bytes in
    SQL (hex-concat == byte-concat) and verifies the md5 grouping
    bit-for-bit; this is what moves the multimodal family off the
    rows-only tail.

    Scale shape: one md5 per payload computed WHERE THE BYTES LIVE
    (map-side, no decode, no Python); the shuffle moves (kind,
    128-bit key, length) rows — never payload bytes; the report is an
    O(kinds)-row hash agg. At 100 TB of video this is the only
    tractable dedup pass there is, and it is one scan + one
    key-shuffle.
    """
    from ..sources.multimodal import media_from_documents

    media = media_from_documents(spark, sf_dir).select(
        "media_id", "kind", "data"
    )
    off = media.agg((F.max("media_id") + 1).alias("off"))
    mirror = media.crossJoin(F.broadcast(off)).select(
        (F.col("media_id") + F.col("off")).alias("media_id"),
        "kind",
        "data",
    )
    crawl = media.unionByName(mirror)
    keyed = crawl.select(
        "kind",
        # md5 over the lowercase hex of the bytes (not the bytes
        # directly): DuckDB's md5 is VARCHAR-only, and hex is a
        # bijection, so the grouping is identical — production would
        # hash the raw bytes and skip the re-encode
        F.md5(F.lower(F.hex("data"))).alias("content_key"),
        F.length("data").cast("long").alias("n_bytes"),
    )
    grp = keyed.groupBy("kind", "content_key").agg(
        F.count(F.lit(1)).alias("copies"),
        F.min("n_bytes").alias("n_bytes"),
    )
    return grp.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_payloads"),
        F.sum("copies").cast("long").alias("n_rows"),
        F.sum(F.col("copies") - 1).cast("long").alias("n_dup_rows"),
        F.sum(F.col("copies") * F.col("n_bytes"))
        .cast("long")
        .alias("bytes_total"),
        F.sum("n_bytes").cast("long").alias("bytes_unique"),
        (
            F.lit(1.0)
            - F.sum("n_bytes").cast("double")
            / F.sum(F.col("copies") * F.col("n_bytes")).cast("double")
        ).alias("savings_ratio"),
    )


@register("llm_media_payload_dedup_raw")
def llm_media_payload_dedup_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 EXT, production form of ``llm_media_payload_dedup`` — the
    content key is computed DIRECTLY on the BINARY column
    (``sha2(data, 256)``), no hex re-encode: the oracle twin hashes
    ``md5(lower(hex(data)))`` purely because DuckDB's md5 is
    VARCHAR-only, which doubles the hashed bytes. Rows-only by the
    same token (no cross-engine oracle can hash raw bytes), so the
    evidence is tests/test_multimodal.py pinning that this plan and
    the hex twin produce IDENTICAL reports — hex is a bijection, so
    every (kind, content_key) group has the same membership under
    either key.

    sha-256 rather than xxhash64 because a content-ADDRESSED dedup
    key must survive 100 TB of payloads without birthday collisions:
    64-bit keys collide in expectation past ~5 billion objects;
    256-bit keys never will.

    Scale shape: identical to the twin — one map-side hash where the
    bytes live, a (kind, key, length) shuffle that never moves
    payloads, and an O(kinds) final agg — minus the 2× hex encode.
    """
    from ..sources.multimodal import media_from_documents

    media = media_from_documents(spark, sf_dir).select(
        "media_id", "kind", "data"
    )
    off = media.agg((F.max("media_id") + 1).alias("off"))
    mirror = media.crossJoin(F.broadcast(off)).select(
        (F.col("media_id") + F.col("off")).alias("media_id"),
        "kind",
        "data",
    )
    crawl = media.unionByName(mirror)
    keyed = crawl.select(
        "kind",
        F.sha2(F.col("data"), 256).alias("content_key"),
        F.length("data").cast("long").alias("n_bytes"),
    )
    grp = keyed.groupBy("kind", "content_key").agg(
        F.count(F.lit(1)).alias("copies"),
        F.min("n_bytes").alias("n_bytes"),
    )
    return grp.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_payloads"),
        F.sum("copies").cast("long").alias("n_rows"),
        F.sum(F.col("copies") - 1).cast("long").alias("n_dup_rows"),
        F.sum(F.col("copies") * F.col("n_bytes"))
        .cast("long")
        .alias("bytes_total"),
        F.sum("n_bytes").cast("long").alias("bytes_unique"),
        (
            F.lit(1.0)
            - F.sum("n_bytes").cast("double")
            / F.sum(F.col("copies") * F.col("n_bytes")).cast("double")
        ).alias("savings_ratio"),
    )


# ---------------------------------------------------------------------------
# Round-13 batch 7: weak-link edges in the dedup candidate graph
# ---------------------------------------------------------------------------


@register(
    "llm_weak_link_edges",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    adj AS (
      SELECT doc_a AS u, doc_b AS v FROM cand
      UNION ALL
      SELECT doc_b, doc_a FROM cand
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n
      FROM cand c
      JOIN adj x ON x.u = c.doc_a
      JOIN adj y ON y.u = c.doc_b AND y.v = x.v
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b, da.d AS deg_a, db.d AS deg_b
    FROM cand c
    LEFT JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
    JOIN deg da ON da.u = c.doc_a
    JOIN deg db ON db.u = c.doc_b
    WHERE m.n IS NULL
    """,
)
def llm_weak_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/J17 EXT: WEAK-LINK edges of the dedup candidate graph —
    candidate pairs whose endpoints share NO common neighbor (the
    edge sits in no triangle), with each endpoint's degree. The
    cluster-fragility audit that pairs with the triangle counts: a
    near-dup cluster held together by weak links is usually a
    hub-and-spoke boilerplate chain (strip the template), while a
    triangle-dense cluster is a true duplicate clique (collapse it);
    weak links are also exactly the edges whose removal splits a
    component, so this is where a pipeline looks before trusting a
    giant cluster.

    Exactness: pure integer set algebra over md5-derived edges.

    Scale shape: candidates come from the S21 band store; the
    common-neighbor wedge join shuffles on node keys and its fan-out
    is DEGREE-BOUNDED BY CONSTRUCTION (the LSH bucket cap caps a
    node's neighbors per band) — the same structural guard the
    triangle count relies on; degrees are one hash agg over the
    adjacency list.
    """
    cand = minhash_candidate_pairs_stored(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    adj = cand.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        cand.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    x = adj.alias("x").hint("merge")
    y = adj.alias("y").hint("merge")
    common = (
        cand.join(x, F.col("x.u") == F.col("doc_a"))
        .join(
            y,
            (F.col("y.u") == F.col("doc_b"))
            & (F.col("y.v") == F.col("x.v")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    da = deg.select(F.col("u").alias("doc_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("doc_b"), F.col("d").alias("deg_b"))
    return (
        cand.join(common, ["doc_a", "doc_b"], "left")
        .filter(F.col("n").isNull())
        .join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", "deg_a", "deg_b")
    )


# ---------------------------------------------------------------------------
# Round-13 batch 8: dedup × quality interaction audit
# ---------------------------------------------------------------------------


@register(
    "llm_dedup_quality_interaction",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS},
    removed AS (
      SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard >= {_XSRC_J}
    ),
    tc AS (
      SELECT doc_id, term, COUNT(*) AS c, LEN(term) AS l
      FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents)
      GROUP BY doc_id, term
    ),
    quality AS (
      SELECT doc_id,
             CAST(
               SUM(c) BETWEEN {_G_MIN_TOK} AND {_G_MAX_TOK}
               AND CAST(SUM(l * c) AS DOUBLE) / SUM(c)
                   BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}
               AND CAST(MAX(c) AS DOUBLE) / SUM(c) <= {_G_MAX_TOP_FRAC}
               AND MAX(CASE WHEN term IN ({_SQL_STOPWORDS})
                            THEN 1 ELSE 0 END) = 1
             AS BOOLEAN) AS keep
      FROM tc GROUP BY doc_id
    ),
    flagged AS (
      SELECT d.source, q.keep,
             EXISTS (SELECT 1 FROM removed r WHERE r.doc_id = d.doc_id)
               AS is_removed
      FROM documents d JOIN quality q ON q.doc_id = d.doc_id
    )
    SELECT source,
           CAST(SUM(CASE WHEN is_removed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN NOT is_removed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN is_removed AND keep THEN 1 ELSE 0 END)
                AS DOUBLE)
             / NULLIF(SUM(CASE WHEN is_removed THEN 1 ELSE 0 END), 0)
             AS removed_quality_share,
           CAST(SUM(CASE WHEN NOT is_removed AND keep THEN 1 ELSE 0 END)
                AS DOUBLE)
             / NULLIF(SUM(CASE WHEN NOT is_removed THEN 1 ELSE 0 END), 0)
             AS kept_quality_share
    FROM flagged
    GROUP BY source
    """,
)
def llm_dedup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6×F30 EXT: DEDUP × QUALITY interaction audit — per source,
    the Gopher quality-pass rate among documents the near-dup policy
    REMOVES versus among what it keeps. The question every curation
    run must answer before shipping: is dedup deleting junk
    (removed-quality-share well below kept) or deleting gold
    (shares comparable — the removed docs were fine, only redundant)?
    Composes two pipelines this engine already runs — the S24
    verified-pair removal set and the F30 rule-chain filter — into
    the ledger row a data lead actually reads.

    Exactness: the quality verdict is the exact Gopher rule chain
    (integer ratios, shared literals); counts exact int64; the two
    shares are double ratios with identical NULL degeneracy.

    Scale shape: the removal set is an S24 store scan; the quality
    flags are the F30 two-hash-agg pass (map-side combinable); the
    interaction is one id-keyed join + a per-source hash agg over
    (source, keep, flag) — the audit costs one join more than the
    filters it composes.
    """
    removed = (
        _ngram_jaccard_pairs_stored(spark, sf_dir)
        .filter(F.col("jaccard") >= F.expr(f"CAST({_XSRC_J} AS DOUBLE)"))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_removed", F.lit(True))
    )
    docs = load_table(spark, sf_dir, "documents")
    quality = gopher_quality_filter(docs).select("doc_id", "keep")
    flagged = (
        docs.select("doc_id", "source")
        .join(quality, "doc_id")
        .join(removed, "doc_id", "left")
        .select(
            "source",
            "keep",
            F.coalesce("is_removed", F.lit(False)).alias("is_removed"),
        )
    )
    rm = F.col("is_removed")
    n_rm = F.sum(rm.cast("long"))
    n_kp = F.sum((~rm).cast("long"))
    return flagged.groupBy("source").agg(
        n_rm.cast("long").alias("n_removed"),
        n_kp.cast("long").alias("n_kept"),
        (
            F.sum((rm & F.col("keep")).cast("long")).cast("double")
            / F.nullif(n_rm, F.lit(0))
        ).alias("removed_quality_share"),
        (
            F.sum(((~rm) & F.col("keep")).cast("long")).cast("double")
            / F.nullif(n_kp, F.lit(0))
        ).alias("kept_quality_share"),
    )


# ---------------------------------------------------------------------------
# Round-13 batch 9: corpus snapshot-diff report
# ---------------------------------------------------------------------------

#: Snapshot simulation residues: docs with id%10==_DELTA_ADD exist
#: only in the NEW snapshot (freshly crawled), id%10==_DELTA_DEL only
#: in the OLD one (dropped from the crawl), id%10==_DELTA_CHG carry a
#: marker suffix in the old snapshot (re-extraction changed them).
_DELTA_ADD, _DELTA_DEL, _DELTA_CHG = 3, 7, 5


@register(
    "llm_corpus_delta_report",
    oracle=rf"""
    WITH new_snap AS (
      SELECT doc_id, source,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS k
      FROM documents WHERE doc_id % 10 <> {_DELTA_DEL}
    ),
    old_snap AS (
      SELECT doc_id, source,
             md5(regexp_replace(trim(lower(
               CASE WHEN doc_id % 10 = {_DELTA_CHG}
                    THEN text || ' v1' ELSE text END)), '\s+', ' ', 'g'))
               AS k
      FROM documents WHERE doc_id % 10 <> {_DELTA_ADD}
    ),
    j AS (
      SELECT COALESCE(n.source, o.source) AS source,
             n.doc_id AS nid, o.doc_id AS oid,
             n.k AS nk, o.k AS ok
      FROM new_snap n
      FULL OUTER JOIN old_snap o ON o.doc_id = n.doc_id
    )
    SELECT source,
           CAST(SUM(CASE WHEN oid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_added,
           CAST(SUM(CASE WHEN nid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN nid IS NOT NULL AND oid IS NOT NULL
                          AND nk <> ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(CASE WHEN nk = ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unchanged,
           CAST(SUM(CASE WHEN nk = ok THEN 0 ELSE 1 END) AS DOUBLE)
             / COUNT(*) AS churn_rate
    FROM j
    GROUP BY source
    """,
)
def llm_corpus_delta_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/J10 EXT: CORPUS SNAPSHOT DIFF — the changelog an incremental
    ingest publishes between two crawls: per source, documents added,
    removed, changed (same id, different canonical content key) and
    unchanged, plus the churn rate. This is the report that decides
    whether downstream stores (S20-S24) re-encode: zero churn means
    every fingerprint-keyed store re-attaches as-is. The two
    snapshots are simulated from the one corpus by id residue
    (added/removed slices and a marker-suffix re-extraction for the
    changed slice) — the comparison machinery is the product.

    Exactness: content keys are the canonical md5 discipline of exact
    dedup; counts exact int64; one double ratio.

    Scale shape: ONE full-outer join on the uniform doc_id key —
    ids and 128-bit keys only, text never moves (keys are computed
    at the scan) — then a per-source hash agg. At 100 TB a snapshot
    diff is exactly this join, and it shuffles 24 bytes per doc.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = lambda c: F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))  # noqa: E731
    new_snap = docs.filter(F.col("doc_id") % 10 != _DELTA_DEL).select(
        F.col("doc_id").alias("nid"),
        F.col("source").alias("nsource"),
        key(F.col("text")).alias("nk"),
    )
    old_text = F.when(
        F.col("doc_id") % 10 == _DELTA_CHG, F.concat(F.col("text"), F.lit(" v1"))
    ).otherwise(F.col("text"))
    old_snap = docs.filter(F.col("doc_id") % 10 != _DELTA_ADD).select(
        F.col("doc_id").alias("oid"),
        F.col("source").alias("osource"),
        key(old_text).alias("ok"),
    )
    j = new_snap.join(
        old_snap, new_snap.nid == old_snap.oid, "full_outer"
    ).select(
        F.coalesce("nsource", "osource").alias("source"),
        "nid",
        "oid",
        "nk",
        "ok",
    )
    same = F.col("nk") == F.col("ok")
    return j.groupBy("source").agg(
        F.sum(F.col("oid").isNull().cast("long")).cast("long").alias("n_added"),
        F.sum(F.col("nid").isNull().cast("long")).cast("long").alias("n_removed"),
        F.sum(
            (F.col("nid").isNotNull() & F.col("oid").isNotNull() & ~same)
            .cast("long")
        ).cast("long").alias("n_changed"),
        F.sum(F.coalesce(same, F.lit(False)).cast("long"))
        .cast("long")
        .alias("n_unchanged"),
        (
            F.sum((~F.coalesce(same, F.lit(False))).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("churn_rate"),
    )


# ---------------------------------------------------------------------------
# Round-14 batch 1: sequence-budget and curation-policy planning audits
# ---------------------------------------------------------------------------

#: Candidate sequence-length caps (tokens) for the truncation sweep —
#: the axis a context-length decision reads.
_TRUNC_CAPS = (32, 64, 128, 256)


@register(
    "llm_truncation_loss_curve",
    oracle=f"""
    WITH n AS (SELECT len({_SQL_TOKENS}) AS n_tok FROM documents)
    SELECT CAST(cap AS BIGINT) AS cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_tok > cap THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_truncated,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(GREATEST(n_tok - cap, 0)) AS BIGINT) AS tokens_dropped,
           CAST(SUM(GREATEST(n_tok - cap, 0)) AS DOUBLE) / SUM(n_tok)
             AS drop_share
    FROM (VALUES {", ".join(f"({c})" for c in _TRUNC_CAPS)}) c(cap)
    CROSS JOIN n
    GROUP BY cap
    """,
)
def llm_truncation_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 EXT: TRUNCATION-LOSS curve — for each candidate sequence cap
    ({", ".join(str(c) for c in _TRUNC_CAPS)} tokens), how many
    documents a hard truncation would cut and what fraction of the
    corpus's tokens it throws away. This is the curve read before
    fixing a training context length (the packing/chunking operators
    assume a cap; this prices it): too short silently discards the
    long-document tail, and the drop_share column is that loss made
    measurable.

    Scale shape: ONE corpus scan computes each doc's token count;
    the cap axis is a 4-element literal explode over the tiny
    (n_tok)-projection, and the rollup is a map-side-combinable hash
    agg on a 4-value key. No joins, no windows; integer counts exact,
    one IEEE divide per row.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(F.size(_tokens()).alias("n_tok"))
    axis = F.array(*[F.lit(c).cast("long") for c in _TRUNC_CAPS])
    return (
        toked.select("n_tok", F.explode(axis).alias("cap"))
        .groupBy("cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_tok") > F.col("cap")).cast("long"))
            .cast("long")
            .alias("n_docs_truncated"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.greatest(F.col("n_tok") - F.col("cap"), F.lit(0)))
            .cast("long")
            .alias("tokens_dropped"),
            (
                F.sum(
                    F.greatest(F.col("n_tok") - F.col("cap"), F.lit(0))
                ).cast("double")
                / F.sum("n_tok").cast("double")
            ).alias("drop_share"),
        )
    )


#: Max integer repetition count per source — the "4-epoch rule"
#: (repeating data beyond ~4 epochs stops helping; Muennighoff et al.
#: 2023, "Scaling Data-Constrained Language Models").
_UPSAMPLE_CAP = 4


@register(
    "llm_upsample_plan_integer",
    oracle=f"""
    WITH s AS (
      SELECT source,
             SUM(len({_SQL_TOKENS})) AS n_tokens,
             COUNT(*) AS n_docs
      FROM documents
      GROUP BY source
      HAVING SUM(len({_SQL_TOKENS})) > 0
    ),
    m AS (SELECT MAX(n_tokens) AS t_max, COUNT(*) AS n_sources FROM s),
    plan AS (
      SELECT source, n_docs, n_tokens,
             LEAST({_UPSAMPLE_CAP}, GREATEST(1, t_max // n_tokens))
               AS repeats,
             n_sources
      FROM s CROSS JOIN m
    ),
    tot AS (SELECT SUM(repeats * n_tokens) AS t_up FROM plan)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(repeats AS BIGINT) AS repeats,
           CAST(repeats * n_tokens AS BIGINT) AS upsampled_tokens,
           CAST(repeats * n_tokens AS DOUBLE) / t_up AS achieved_share,
           CAST(1.0 AS DOUBLE) / n_sources AS target_share
    FROM plan CROSS JOIN tot
    """,
)
def llm_upsample_plan_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22 EXT: INTEGER UPSAMPLING plan — the executable version of a
    target mix: per source, the whole-number repeat count that moves
    the corpus toward a uniform token mix without downsampling the
    largest source, capped at {_UPSAMPLE_CAP} repeats (the data-
    constrained scaling result that repetition beyond ~4 epochs stops
    buying quality). Emits the achieved post-upsampling share next to
    the uniform target so the residual imbalance is visible — the
    report a data-mixing run ships with.

    Scale shape: everything derives from ONE per-source token
    aggregate (map-side combinable over the corpus scan); the plan
    arithmetic runs on the O(sources) relation with two broadcast
    scalars (max, total). Integer division (``div``/``//``) keeps the
    repeat counts exact on both engines; shares are single IEEE
    divides of exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.groupBy("source")
        .agg(
            F.sum(F.size(_tokens())).cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        # A source whose documents are all zero-token has no defined
        # repeat count (t_max/0): exclude it on BOTH engines (the
        # oracle's HAVING) instead of letting Spark's NULL-tolerant
        # greatest() silently resolve it to repeats=1 while DuckDB
        # errors on the integer divide.
        .filter(F.col("n_tokens") > 0)
    )
    m = s.agg(
        F.max("n_tokens").alias("t_max"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    plan = s.crossJoin(F.broadcast(m)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.least(
            F.lit(_UPSAMPLE_CAP).cast("long"),
            F.greatest(F.lit(1).cast("long"), F.expr("t_max div n_tokens")),
        ).alias("repeats"),
        "n_sources",
    )
    tot = plan.agg(
        F.sum(F.col("repeats") * F.col("n_tokens")).alias("t_up")
    )
    return plan.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.col("repeats").cast("long").alias("repeats"),
        (F.col("repeats") * F.col("n_tokens"))
        .cast("long")
        .alias("upsampled_tokens"),
        (
            (F.col("repeats") * F.col("n_tokens")).cast("double")
            / F.col("t_up").cast("double")
        ).alias("achieved_share"),
        (F.lit(1.0) / F.col("n_sources").cast("double")).alias(
            "target_share"
        ),
    )


#: The ablation matrix's filter set — the four Gopher rule families,
#: as VIOLATION predicates over the per-doc rule inputs
#: (``gopher_quality_filter_from_tokens`` emits them).
_ABLATION_FILTERS = ("len_rule", "mwl_rule", "rep_rule", "stop_rule")


def _sql_ablation_flags() -> str:
    """DuckDB twin of the violation flags over the gopher-stats CTE."""
    return f"""
      SELECT doc_id,
             NOT (n_tok BETWEEN {_G_MIN_TOK} AND {_G_MAX_TOK}) AS len_rule,
             NOT (CAST(n_chars_tok AS DOUBLE) / n_tok
                  BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}) AS mwl_rule,
             CAST(top_c AS DOUBLE) / n_tok > {_G_MAX_TOP_FRAC} AS rep_rule,
             has_stop = 0 AS stop_rule
      FROM agg
    """


@register(
    "llm_filter_ablation_matrix",
    oracle=f"""
    WITH {_SQL_TERM_COUNTS},
    agg AS (
      {_SQL_GOPHER_STATS}
    ),
    flags AS ({{flags}}),
    pairs AS (
      SELECT * FROM (VALUES {{pair_values}}) p(filter_a, filter_b)
    ),
    scored AS (
      SELECT p.filter_a, p.filter_b,
             CASE p.filter_a {{dispatch}} END AS fa,
             CASE p.filter_b {{dispatch}} END AS fb
      FROM flags f CROSS JOIN pairs p
    )
    SELECT filter_a, filter_b,
           CAST(SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both,
           CAST(SUM(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_only_a,
           CAST(SUM(CASE WHEN fb AND NOT fa THEN 1 ELSE 0 END) AS BIGINT)
             AS n_only_b,
           CASE WHEN SUM(CASE WHEN fa OR fb THEN 1 ELSE 0 END) = 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END)
                          AS DOUBLE)
                     / SUM(CASE WHEN fa OR fb THEN 1 ELSE 0 END)
           END AS overlap_jaccard
    FROM scored
    GROUP BY filter_a, filter_b
    """.format(
        flags=_sql_ablation_flags(),
        pair_values=", ".join(
            f"('{a}', '{b}')"
            for i, a in enumerate(_ABLATION_FILTERS)
            for b in _ABLATION_FILTERS[i + 1:]
        ),
        dispatch=" ".join(
            f"WHEN '{name}' THEN {name}" for name in _ABLATION_FILTERS
        ),
    ),
)
def llm_filter_ablation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F30 EXT: FILTER ABLATION matrix — for every pair of the four
    Gopher rule families (token-count bounds, mean-word-length bounds,
    repetition bound, must-contain-a-stopword), how many documents
    each pair rejects jointly vs exclusively, with the overlap
    Jaccard. This is the report that tells a curation pipeline which
    filters are redundant (high overlap — one can be dropped from the
    hot path) and which carry unique signal (high exclusive counts) —
    the ablation run behind every published filter stack, without
    re-running the corpus once per subset.

    Shares the rule inputs (and thresholds) with
    ``llm_gopher_quality_filter`` by construction, so the matrix
    audits exactly the filters the pipeline runs.

    Scale shape: the per-doc rule inputs come from the same two hash
    aggregates as the gopher filter (one corpus scan); the pair axis
    is a 6-element literal explode over the tiny per-doc flag
    projection, and the rollup aggregates on a 6-value key with
    map-side combine. Counts exact; the Jaccard is one IEEE divide
    with an exact-integer zero guard on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    stats = gopher_quality_filter(docs)
    flags = stats.select(
        "doc_id",
        (~F.col("n_tok").between(_G_MIN_TOK, _G_MAX_TOK)).alias("len_rule"),
        (
            ~F.col("mean_word_len").between(_G_MIN_MWL, _G_MAX_MWL)
        ).alias("mwl_rule"),
        (F.col("top_token_frac") > _G_MAX_TOP_FRAC).alias("rep_rule"),
        (~F.col("has_stopword")).alias("stop_rule"),
    )
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("filter_a"),
                F.lit(b).alias("filter_b"),
                F.col(a).alias("fa"),
                F.col(b).alias("fb"),
            )
            for i, a in enumerate(_ABLATION_FILTERS)
            for b in _ABLATION_FILTERS[i + 1:]
        ]
    )
    exploded = flags.select(F.explode(pair_structs).alias("p")).select(
        "p.filter_a", "p.filter_b", "p.fa", "p.fb"
    )
    n_union = F.sum((F.col("fa") | F.col("fb")).cast("long"))
    n_both = F.sum((F.col("fa") & F.col("fb")).cast("long"))
    return exploded.groupBy("filter_a", "filter_b").agg(
        n_both.cast("long").alias("n_both"),
        F.sum((F.col("fa") & ~F.col("fb")).cast("long"))
        .cast("long")
        .alias("n_only_a"),
        F.sum((F.col("fb") & ~F.col("fa")).cast("long"))
        .cast("long")
        .alias("n_only_b"),
        F.when(n_union == 0, F.lit(0.0))
        .otherwise(n_both.cast("double") / n_union.cast("double"))
        .alias("overlap_jaccard"),
    )


# ---------------------------------------------------------------------------
# Round-14 batch 2: mergeable-sketch audit + multimodal length integrity
# ---------------------------------------------------------------------------

#: KMV sketch size (k minimum hash values) and the hash-space width
#: used for the estimate (first 12 hex chars of md5 = 48 bits — small
#: enough for exact BIGINT/double arithmetic on both engines).
_KMV_K = 64
_KMV_SPACE = float(1 << 48)


@register(
    "llm_kmv_distinct_audit",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT source, s
      FROM (
        SELECT source, unnest({_sql_word_ngrams("t")}) AS s
        FROM (SELECT source, {_SQL_TOKENS} AS t FROM documents)
      )
    ),
    h AS (
      SELECT DISTINCT source,
             list_aggregate(list_transform(range(1, 13), i ->
               CAST(strpos('0123456789abcdef',
                           substr(md5(s), CAST(i AS INTEGER), 1)) - 1
                    AS BIGINT)
               * CAST(power(16, 12 - i) AS BIGINT)), 'sum') AS hv
      FROM sh
    ),
    ranked AS (
      SELECT source, hv,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_hashes
      FROM h
    ),
    kth AS (
      SELECT source, n_hashes, hv AS h_k
      FROM ranked WHERE rn = {_KMV_K}
    ),
    exact AS (
      SELECT source, COUNT(*) AS n_exact FROM sh GROUP BY source
    )
    SELECT e.source,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           COALESCE(CAST({_KMV_K} - 1 AS DOUBLE) * {_KMV_SPACE!r}
                      / CAST(k.h_k AS DOUBLE),
                    CAST(e.n_exact AS DOUBLE)) AS est_kmv,
           (COALESCE(CAST({_KMV_K} - 1 AS DOUBLE) * {_KMV_SPACE!r}
                       / CAST(k.h_k AS DOUBLE),
                     CAST(e.n_exact AS DOUBLE))
            - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE)
             AS rel_err
    FROM exact e LEFT JOIN kth k ON e.source = k.source
    """,
)
def llm_kmv_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 EXT: KMV (k-minimum-values) DISTINCT-SHINGLE sketch audit —
    per source, the {_KMV_K}-value KMV estimate of the distinct
    3-gram count next to the exact count and the relative error. KMV
    is the mergeable-sketch workhorse for distinct counting at scale
    (union of sketches = sketch of union, so per-shard sketches
    combine on the reduce side in O(k)); unlike the HLL twins
    (``agg_approx_distinct_users``), its estimator is a pure function
    of md5 — so this one carries a full cross-engine oracle, making
    it the family's driver-checkable member.

    Estimator: with h_k the k-th smallest 48-bit hash of the distinct
    shingle set, est = (k-1) * 2^48 / h_k (the order-statistics
    estimator); sources with fewer than k distinct HASHES fall back
    to their exact count (the sketch stores them exhaustively).
    Envelope (the A55/A20 discipline): the fallback predicate counts
    distinct hashes, not distinct shingles, so a 48-bit collision at
    the margin can route a source with exactly k distinct shingles
    through the fallback — expected collisions ≈ n²/2^49 stay below
    one until ~10^7 distinct shingles PER SOURCE, far beyond any
    shard a per-source sketch would see, and the oracle applies the
    identical predicate, so cross-engine parity holds regardless.

    Scale shape: distinct (source, shingle) and distinct (source,
    hash) are map-side-combinable hash aggregates on the shingle
    stream; the k-th order statistic runs as a rank-limited window —
    Spark's WindowGroupLimit pushes rn <= k into the sort, so every
    map task forwards at most k rows per source and the per-source
    sort never sees the full hash relation. The estimate itself is
    O(sources) arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs, "source")
    sh = toked.select(
        "source", F.explode(_word_ngrams(F.col("t"))).alias("s")
    ).distinct()
    h = sh.select(
        "source",
        F.conv(F.substring(F.md5("s"), 1, 12), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    w = Window.partitionBy("source").orderBy("hv")
    kth = (
        h.select("source", "hv", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == _KMV_K)
        .select("source", F.col("hv").alias("h_k"))
    )
    exact = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    est = F.coalesce(
        F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE)
        / F.col("h_k").cast("double"),
        F.col("n_exact").cast("double"),
    )
    return exact.join(kth, "source", "left").select(
        "source",
        "n_exact",
        est.alias("est_kmv"),
        (
            (est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double")
        ).alias("rel_err"),
    )


@register(
    "llm_media_length_integrity",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind,
             8 + doc_id % 5 AS n_blocks
      FROM documents
    )
    SELECT kind,
           CAST(n_blocks AS BIGINT) AS n_blocks,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(n_blocks * 16 AS BIGINT) AS bytes_each,
           CAST(COUNT(*) * n_blocks * 16 AS BIGINT) AS bytes_total
    FROM m
    GROUP BY kind, n_blocks
    """,
)
def llm_media_length_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/F-multimodal EXT: MEDIA LENGTH-INTEGRITY histogram — per
    (kind, block-count) cell, the payload population and byte volume,
    with the block count MEASURED from the stored bytes
    (``length(data) / 16``), never trusted from metadata. The oracle
    rebuilds the same histogram from the id arithmetic that *defines*
    the corpus (payload = 16-byte md5 chain, 8 + id%5 blocks), so a
    driver-green row certifies the binary payloads on disk are
    byte-length-correct end to end — the cheap integrity pass a
    multimodal ingest runs before any decode is attempted, and the
    capacity histogram a storage planner reads.

    Scale shape: one scan of the media relation computing
    ``length(data)`` where the bytes live; the shuffle carries (kind,
    n_blocks, count) — never payloads; output is O(kinds × 5) rows.
    """
    from ..sources.multimodal import media_from_documents

    media = media_from_documents(spark, sf_dir)
    measured = media.select(
        "kind",
        (F.length("data").cast("long") / F.lit(16))
        .cast("long")
        .alias("n_blocks"),
    )
    return measured.groupBy("kind", "n_blocks").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.col("n_blocks") * 16).cast("long").alias("bytes_each"),
        (F.count(F.lit(1)) * F.col("n_blocks") * 16)
        .cast("long")
        .alias("bytes_total"),
    )


# ---------------------------------------------------------------------------
# Round-14 batch 3: ANN geometry tuning + decontamination gram-size sweep
# ---------------------------------------------------------------------------

#: Bucket-width axis for the hyperplane sweep: prefixes of the
#: _N_PLANES-bit sign bucket (nbits planes = first nbits bits), so the
#: whole curve derives from ONE bucket computation.
_ANN_SWEEP_BITS = (4, 6, 8)


@register(
    "llm_ann_bucket_width_sweep",
    oracle=f"""
    WITH b AS (
      SELECT vec_id,
             {_sql_bucket_expr()} AS bucket
      FROM (
        SELECT vec_id,
               list_transform(embedding,
                 x -> {_SQL_ISCALE.format(v="x")}) AS sv
        FROM embeddings
      )
    ),
    sizes AS (
      SELECT nbits, substr(bucket, 1, CAST(nbits AS INTEGER)) AS pfx,
             COUNT(*) AS sz
      FROM b CROSS JOIN (VALUES {", ".join(f"({n})" for n in _ANN_SWEEP_BITS)}) t(nbits)
      GROUP BY nbits, pfx
    )
    SELECT CAST(nbits AS BIGINT) AS nbits,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(CASE WHEN sz > 1 THEN 1 END) AS BIGINT)
             AS n_multi_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(COALESCE(SUM(CASE WHEN sz > 1 AND sz <= {_ANN_BUCKET_CAP}
                                  THEN sz * (sz - 1) END), 0) // 2
                AS BIGINT) AS candidate_pairs,
           CAST(COALESCE(SUM(CASE WHEN sz > {_ANN_BUCKET_CAP}
                                  THEN sz * (sz - 1) END), 0) // 2
                AS BIGINT) AS pairs_suppressed
    FROM sizes
    GROUP BY nbits
    """,
)
def llm_ann_bucket_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/S20 EXT: ANN BUCKET-WIDTH sweep — the tuning curve for the
    hyperplane-LSH geometry: for each candidate plane count
    ({", ".join(str(n) for n in _ANN_SWEEP_BITS)}), the bucket
    population, the largest bucket, and the candidate-pair volume the
    bucketed join would generate (split at the ``_ANN_BUCKET_CAP``
    mega-bucket guard into generated vs suppressed). Fewer planes →
    fatter buckets → more candidates (higher recall, more compute);
    this curve is how the plane count is chosen, the embedding twin
    of ``llm_lsh_band_coverage``.

    The sweep derives every width from ONE bucket computation: an
    nbits-plane bucket is the nbits-bit PREFIX of the
    {_N_PLANES}-plane sign bucket (plane i's bit does not depend on
    the plane count), so the corpus is scanned and sign-hashed once
    and the axis explodes only the (vec_id, bucket) projection.

    Exactness: fixed-point integer plane dots (no RNG, no float
    order-dependence); pair counts sum the always-even integer
    product and halve the integral sum (``shiftright``/``// 2``).

    Scale shape: one embedding scan + {len(_ANN_SWEEP_BITS)}× explode
    of the key-only projection; two map-side-combinable hash aggs
    (bucket sizes, then the O(2^nbits)-row rollup). No pair is ever
    materialized — the curve PRICES the join without running it.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n_planes = _planes_at_oracle_floor(
        emb.count(), "llm_ann_bucket_width_sweep"
    )
    buckets = _scaled(emb).select(
        "vec_id", _bucket_expr(n_planes=n_planes).alias("bucket")
    )
    axis = F.array(*[F.lit(n) for n in _ANN_SWEEP_BITS])
    sizes = (
        buckets.select("bucket", F.explode(axis).alias("nbits"))
        .select(
            "nbits",
            F.substring(F.col("bucket"), 1, 8).substr(
                F.lit(1), F.col("nbits")
            ).alias("pfx"),
        )
        .groupBy("nbits", "pfx")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    in_cap = (F.col("sz") > 1) & (F.col("sz") <= _ANN_BUCKET_CAP)
    over = F.col("sz") > _ANN_BUCKET_CAP
    even_sum = lambda cond: F.shiftright(  # noqa: E731
        F.coalesce(
            F.sum(
                F.when(
                    cond, F.col("sz").cast("long") * (F.col("sz") - F.lit(1))
                )
            ),
            F.lit(0).cast("long"),
        ),
        1,
    ).cast("long")
    return sizes.groupBy(F.col("nbits").cast("long").alias("nbits")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum((F.col("sz") > 1).cast("long"))
        .cast("long")
        .alias("n_multi_buckets"),
        F.max("sz").cast("long").alias("max_bucket"),
        even_sum(in_cap).alias("candidate_pairs"),
        even_sum(over).alias("pairs_suppressed"),
    )


#: Gram sizes for the decontamination sweep — bracketing the
#: production _DECON_N (the published recipes use 8-13 grams on
#: real-token corpora; the synthetic corpus's shorter docs need a
#: proportionally shorter axis).
_DECON_SWEEP_NS = (3, 4, 5)


@register(
    "llm_decontaminate_ngram_sweep",
    oracle=" UNION ALL ".join(
        f"""
    SELECT CAST({n} AS BIGINT) AS n,
           CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_flagged_docs,
           CAST(COUNT(*) AS BIGINT) AS n_hit_occurrences,
           CAST(COUNT(DISTINCT c.doc_id) AS DOUBLE)
             / (SELECT COUNT(*) FROM documents
                WHERE doc_id % {_DECON_MOD} <> {_DECON_REM})
             AS flagged_share
    FROM (
      SELECT doc_id, unnest({_sql_word_ngrams("t", n)}) AS g
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
      WHERE doc_id % {_DECON_MOD} <> {_DECON_REM}
    ) c
    JOIN (
      SELECT DISTINCT g FROM (
        SELECT unnest({_sql_word_ngrams("t", n)}) AS g
        FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
              WHERE doc_id % {_DECON_MOD} = {_DECON_REM})
      )
    ) b USING (g)
    """
        for n in _DECON_SWEEP_NS
    ),
)
def llm_decontaminate_ngram_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F20/J9 EXT: DECONTAMINATION GRAM-SIZE sweep — how many training
    documents the benchmark-overlap filter flags at each candidate
    n-gram size ({", ".join(str(n) for n in _DECON_SWEEP_NS)}). The
    gram size is decontamination's one real knob (short grams
    over-flag boilerplate collisions, long grams miss paraphrase
    overlap); published recipes picked 8-13 by exactly this curve,
    and this computes all points in one pass instead of one corpus
    scan per candidate.

    Scale shape: the corpus is TOKENIZED ONCE; each doc fans out to
    its tagged (n, gram) stream via one explode of the concatenated
    per-n transforms. The benchmark side is eval-suite-sized, so its
    distinct (n, gram) set broadcasts, and the flag join is
    broadcast-hash — no shuffle of the corpus gram stream; the rollup
    is an O(|axis|) hash agg. Counts exact; the share is one IEEE
    divide.
    """
    docs = load_table(spark, sf_dir, "documents")
    def _tag(n: int) -> Column:
        # NB: a two-argument transform lambda would receive
        # (element, INDEX) — n must be captured in a real closure
        return F.transform(
            _word_ngrams(F.col("t"), n),
            lambda g: F.struct(
                F.lit(n).cast("long").alias("n"), g.alias("g")
            ),
        )

    tagged = F.flatten(F.array(*[_tag(n) for n in _DECON_SWEEP_NS]))

    def _grams(src: DataFrame) -> DataFrame:
        return src.select(
            "doc_id", F.explode(tagged).alias("x")
        ).select("doc_id", "x.n", "x.g")

    # NOT checkpointed: materializing the tagged stream for the two
    # readers costs more than the sliced recomputes (r17 A/B 1.79 vs
    # 2.14 s at 8 cores; RE-MEASURED at 32 cores this round per VERDICT
    # #4: materialized 4.81 s vs lazy 2.90 s in the same window — the
    # decision holds harder at 32). The r18 change is to the SUBTREE
    # SHAPES instead (the query anti-scaled 0.60× from 8→32 cores):
    # the BENCH side is eval-suite-sized and feeds a driver collect
    # (broadcast build), so it skips the cluster-width fan-out — fewer
    # tiny stages beat wider ones below the scheduling floor — while
    # the CORPUS side filters its 4/5 slice BEFORE the fan-out
    # exchange, so the bench docs are never shuffled with it. At
    # 100 TB both sides' scans arrive wide and the fan-out is a no-op
    # either way (the fan_out_if_narrow contract).
    is_bench = (F.col("doc_id") % _DECON_MOD) == _DECON_REM
    tok_cols = docs.select("doc_id", _tokens().alias("t"))
    bench = (
        _grams(tok_cols.filter(is_bench))
        .select("n", "g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    n_corpus_docs = docs.filter(
        (F.col("doc_id") % _DECON_MOD) != _DECON_REM
    ).agg(F.count(F.lit(1)).alias("n_corpus"))
    # TWO-LEVEL aggregate, never COUNT(DISTINCT doc) + COUNT(*) in one
    # agg (which plans an Expand that duplicates every joined gram row
    # — the unique_ngram_ratio lesson): level 1 collapses to (n, doc)
    # hit counts with map-side combine, level 2 is O(docs) per size.
    hit_counts = (
        _grams(fan_out_if_narrow(tok_cols.filter(~is_bench)))
        .join(F.broadcast(bench), ["n", "g"], "inner")
        .groupBy("n", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_flagged_docs"),
            F.sum("c").cast("long").alias("n_hit_occurrences"),
        )
    )
    # The oracle's UNION ALL of ungrouped aggregates emits one row per
    # gram size even when that size flags nothing; a grouped inner-join
    # aggregate emits none. Anchor the result on the literal n-axis so
    # a zero-hit gram size reports explicit zeros on both engines.
    axis = spark.createDataFrame(
        [(int(n),) for n in _DECON_SWEEP_NS], "n long"
    )
    return (
        axis.join(hit_counts, "n", "left")
        .crossJoin(F.broadcast(n_corpus_docs))
        .select(
            "n",
            F.coalesce("n_flagged_docs", F.lit(0))
            .cast("long")
            .alias("n_flagged_docs"),
            F.coalesce("n_hit_occurrences", F.lit(0))
            .cast("long")
            .alias("n_hit_occurrences"),
            (
                F.coalesce("n_flagged_docs", F.lit(0)).cast("double")
                / F.col("n_corpus").cast("double")
            ).alias("flagged_share"),
        )
    )


# ---------------------------------------------------------------------------
# Round-14 batch 4: vocabulary pruning mass + bigram entropy rate
# ---------------------------------------------------------------------------

#: Frequency cutoffs for the rare-token tail: tokens seen <= k times
#: corpus-wide are candidates for vocab pruning / UNK-folding.
_RARE_KS = (1, 2, 5)


@register(
    "llm_rare_token_tail_mass",
    oracle=f"""
    WITH tf AS (
      SELECT lang, term, COUNT(*) AS c
      FROM (
        SELECT lang, unnest({_SQL_TOKENS}) AS term FROM documents
      )
      GROUP BY lang, term
    )
    SELECT lang,
           CAST(k AS BIGINT) AS k,
           CAST(COUNT(CASE WHEN c <= k THEN 1 END) AS BIGINT)
             AS n_rare_types,
           CAST(COALESCE(SUM(CASE WHEN c <= k THEN c END), 0) AS BIGINT)
             AS n_rare_tokens,
           CAST(COUNT(CASE WHEN c <= k THEN 1 END) AS DOUBLE) / COUNT(*)
             AS type_share,
           CAST(COALESCE(SUM(CASE WHEN c <= k THEN c END), 0) AS DOUBLE)
             / SUM(c) AS mass_share
    FROM tf
    CROSS JOIN (VALUES {", ".join(f"({k})" for k in _RARE_KS)}) t(k)
    GROUP BY lang, k
    """,
)
def llm_rare_token_tail_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F24/U13 EXT: RARE-TOKEN TAIL MASS — per language, the share of
    vocabulary TYPES and of token OCCURRENCES carried by tokens seen
    at most k times (k = {", ".join(str(k) for k in _RARE_KS)}). The
    vocabulary-pruning decision curve: Zipf's law says most types are
    rare but most mass is not — this measures exactly how much
    corpus mass an UNK-fold at each cutoff would orphan. Complements
    the Zipf slope (F43) and Heaps curve (F76), which fit the law;
    this prices acting on it.

    Scale shape: ONE (lang, term) hash aggregate over the token
    stream (map-side combinable — the same relation every vocab
    operator pays); the k axis explodes only the O(vocab) count
    relation, and the rollup keys on (lang, k). Counts exact; the
    shares are single IEEE divides.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs, "lang")
    tf = (
        toked.select("lang", F.explode("t").alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    axis = F.array(*[F.lit(k).cast("long") for k in _RARE_KS])
    rare = F.col("c") <= F.col("k")
    return (
        tf.select("lang", "c", F.explode(axis).alias("k"))
        .groupBy("lang", "k")
        .agg(
            F.sum(rare.cast("long")).cast("long").alias("n_rare_types"),
            F.coalesce(F.sum(F.when(rare, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_rare_tokens"),
            (
                F.sum(rare.cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("type_share"),
            (
                F.coalesce(F.sum(F.when(rare, F.col("c"))), F.lit(0))
                .cast("double")
                / F.sum("c").cast("double")
            ).alias("mass_share"),
        )
    )


@register(
    "llm_bigram_entropy_rate",
    oracle=rf"""
    WITH toked AS (
      SELECT lang, {_SQL_TOKENS} AS t FROM documents
      WHERE len({_SQL_TOKENS}) >= 2
    ),
    pairs AS (
      SELECT lang, t[i] AS w1, t[i + 1] AS w2
      FROM toked, UNNEST(range(1, len(t))) AS u(i)
    ),
    big AS (
      SELECT lang, w1, w2, COUNT(*) AS c12
      FROM pairs GROUP BY lang, w1, w2
    ),
    uni AS (
      SELECT lang, w1, SUM(c12) AS c1 FROM big GROUP BY lang, w1
    ),
    sb AS (
      SELECT lang,
             SUM(c12) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
             SUM(c12 * {_SQL_LN_MICRO.format(x='c12')}) AS sl_bg
      FROM big GROUP BY lang
    ),
    su AS (
      SELECT lang, SUM(c1 * {_SQL_LN_MICRO.format(x='c1')}) AS sl_prev
      FROM uni GROUP BY lang
    )
    SELECT sb.lang,
           CAST(sb.n AS BIGINT) AS n_bigrams,
           sb.n_bigram_types,
           CAST(su.sl_prev - sb.sl_bg AS DOUBLE)
             / (CAST(sb.n AS DOUBLE) * 1000000) AS cond_entropy_nats,
           CAST({_SQL_LN_MICRO.format(x='sb.n')} * sb.n - su.sl_prev
                AS DOUBLE)
             / (CAST(sb.n AS DOUBLE) * 1000000) AS prev_entropy_nats
    FROM sb JOIN su USING (lang)
    """,
)
def llm_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F41/F44 EXT: bigram ENTROPY RATE per language — the conditional
    entropy H(next | prev) = H(W1,W2) − H(W1) in nats, next to the
    context-free H(W1). The gap between the two is how much one token
    of context buys: tiny conditional entropy marks template/
    boilerplate-dominated languages (the next token is nearly
    determined — cheap to model, poor training signal), and the pair
    is the corpus-level complement of the per-doc surprisal scores
    (F41/F44). Both reduce to two Σ c·ln c sums over the bigram and
    prev-marginal count relations, so no probability is ever
    materialized.

    Cross-engine exactness: the token-entropy discipline — ln
    quantized to integer micro-nats (libm via the Arrow helper, over
    the DISTINCT count values only), exact int64 sums, one double
    division per output value.

    Scale shape: ONE corpus scan → bigram explode → (lang, w1, w2)
    hash agg with map-side combine (the same relation the bigram LM
    pays), persisted because three branches read it; the marginal
    DERIVES from it (no second pass), rollups key on lang, and the
    ln table is a broadcast over O(distinct counts) values.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", _tokens().alias("t")
    )
    toked = docs.filter(F.size("t") >= 2)
    pairs = toked.select(
        "lang",
        F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
        "t",
    ).select(
        "lang",
        F.element_at("t", F.col("i")).alias("w1"),
        F.element_at("t", F.col("i") + 1).alias("w2"),
    )
    # persist, not pin(): a checkpoint would drop the partitioning
    # that the keyed consumers below reuse (plans/materialize.py).
    big = (
        pairs.groupBy("lang", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = big.groupBy("lang", "w1").agg(F.sum("c12").alias("c1"))
    sb_pre = big.groupBy("lang").agg(
        F.sum("c12").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bigram_types"),
    )
    ln_udf = _ln_libm()
    distinct_vals = (
        big.select(F.col("c12").alias("v"))
        .union(uni.select(F.col("c1").alias("v")))
        .union(sb_pre.select(F.col("n").alias("v")))
        .distinct()
    )
    # read by 3 broadcast joins
    ln_table = pin(
        distinct_vals.select(
            "v",
            F.floor(ln_udf(F.col("v").cast("double")) * _LN_MICRO)
            .cast("long")
            .alias("ln_micro"),
        )
    )
    sl_bg = (
        big.join(F.broadcast(ln_table), big.c12 == ln_table.v)
        .groupBy("lang")
        .agg(F.sum(F.col("c12") * F.col("ln_micro")).alias("sl_bg"))
    )
    sl_prev = (
        uni.join(F.broadcast(ln_table), uni.c1 == ln_table.v)
        .groupBy("lang")
        .agg(F.sum(F.col("c1") * F.col("ln_micro")).alias("sl_prev"))
    )
    out = (
        sb_pre.join(
            F.broadcast(ln_table.withColumnRenamed("ln_micro", "ln_n")),
            sb_pre.n == F.col("v"),
        )
        .join(sl_bg, "lang")
        .join(sl_prev, "lang")
    )
    return out.select(
        "lang",
        F.col("n").cast("long").alias("n_bigrams"),
        "n_bigram_types",
        (
            (F.col("sl_prev") - F.col("sl_bg")).cast("double")
            / (F.col("n").cast("double") * F.lit(float(_LN_MICRO)))
        ).alias("cond_entropy_nats"),
        (
            (F.col("ln_n") * F.col("n") - F.col("sl_prev")).cast("double")
            / (F.col("n").cast("double") * F.lit(float(_LN_MICRO)))
        ).alias("prev_entropy_nats"),
    )


# ---------------------------------------------------------------------------
# Round-14 batch 5: embedding sanity, shard sizing, multimodal planning
# ---------------------------------------------------------------------------


@register(
    "llm_norm_length_correlation",
    oracle=f"""
    WITH j AS (
      SELECT d.n_chars AS x,
             list_aggregate(list_transform(e.embedding,
               v -> CAST({_SQL_ISCALE.format(v="v")} AS BIGINT)
                    * {_SQL_ISCALE.format(v="v")}), 'sum') AS y
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             AS pearson_r
    FROM m
    """,
)
def llm_norm_length_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/F57 EXT: embedding NORM-vs-LENGTH correlation — Pearson r
    between document length (chars) and the squared fixed-point
    embedding norm over the joined corpus. The encoder sanity check
    every retrieval deployment runs once: un-normalized encoders leak
    length into the norm (r far from 0), which silently turns
    dot-product retrieval into a long-document detector. One number,
    read before choosing cosine vs dot scoring.

    Exactness: the A-family exact-moment discipline — x is an int
    column, y the exact int64 squared norm of the 1e-6 fixed-point
    vector (≤ 64·(2^20)² ≈ 2^46, no overflow); all five moment sums
    widen to DECIMAL(38,0)/HUGEINT, and r is one fixed chain of
    double ops on identical integers. Built-in ``corr()`` would
    accumulate doubles in partition order and never verify.

    Scale shape: one equi-join on the uniform doc/vec id (both sides
    scan-pruned to two columns), one 1-row moment aggregate with
    map-side combine. Nothing quadratic, nothing iterative.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("decimal(38,0)").alias("x")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        _long_sum(F.transform("embedding", lambda v: _iscale(v) * _iscale(v)))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    j = docs.join(emb, docs.doc_id == emb.vec_id)
    m = j.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        (num / den).alias("pearson_r"),
    )


#: Candidate shard counts for the balance curve — the axis a
#: data-loader sizing decision reads.
_SHARD_COUNTS = (16, 64, 256)

#: Hex-digit polynomial shared with the KMV audit: first 8 md5 hex
#: chars as a 32-bit integer, expressible identically in both engines.
_SQL_HEX32 = (
    "list_aggregate(list_transform(range(1, 9), i -> "
    "CAST(strpos('0123456789abcdef', substr({h}, CAST(i AS INTEGER), 1)) - 1 "
    "AS BIGINT) * CAST(power(16, 8 - i) AS BIGINT)), 'sum')"
)


@register(
    "llm_shard_count_balance_curve",
    oracle=f"""
    WITH d AS (
      SELECT {_SQL_HEX32.format(h="md5(CAST(doc_id AS VARCHAR))")} AS h,
             len({_SQL_TOKENS}) AS n_tok
      FROM documents
    ),
    loads AS (
      SELECT s, h % s AS shard, SUM(n_tok) AS load
      FROM d CROSS JOIN (VALUES {", ".join(f"({s})" for s in _SHARD_COUNTS)}) t(s)
      GROUP BY s, h % s
    )
    SELECT CAST(s AS BIGINT) AS n_shards,
           CAST(COUNT(*) AS BIGINT) AS shards_used,
           CAST(SUM(load) AS BIGINT) AS tokens_total,
           CAST(MAX(load) AS BIGINT) AS max_shard_tokens,
           CAST(MAX(load) AS DOUBLE)
             / (CAST(SUM(load) AS DOUBLE) / s) AS max_over_mean,
           CAST(MIN(load) AS DOUBLE)
             / (CAST(SUM(load) AS DOUBLE) / s) AS min_over_mean
    FROM loads
    GROUP BY s
    """,
)
def llm_shard_count_balance_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F84 EXT: SHARD-COUNT balance curve — the F84 audit swept over
    the shard-count axis (16/64/256): per candidate count, the
    max/mean and min/mean token-load ratios of the md5 hash
    assignment. Balls-in-bins says imbalance grows as shards shrink
    toward docs/shard parity; this curve is how the data-loader's
    world size is chosen — the straggler tax of each option priced
    before a training run stalls on its fattest shard.

    Exactness: the hash is an integer polynomial over the first 8
    md5 hex digits (identical construction both engines, no engine
    hash functions); loads are exact int64 token sums; ratios are
    fixed double chains on identical integers.

    Scale shape: one corpus scan computes (hash, token count); the
    axis explodes only that 2-column projection; two hash aggs
    (loads, then the O(axis) rollup), all map-side combinable.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long").alias("h"),
        F.size(_tokens()).cast("long").alias("n_tok"),
    )
    axis = F.array(*[F.lit(s).cast("long") for s in _SHARD_COUNTS])
    loads = (
        d.select("h", "n_tok", F.explode(axis).alias("s"))
        .groupBy("s", F.pmod(F.col("h"), F.col("s")).alias("shard"))
        .agg(F.sum("n_tok").alias("load"))
    )
    mean = F.sum("load").cast("double") / F.col("s").cast("double")
    return loads.groupBy(F.col("s").alias("n_shards")).agg(
        F.count(F.lit(1)).cast("long").alias("shards_used"),
        F.sum("load").cast("long").alias("tokens_total"),
        F.max("load").cast("long").alias("max_shard_tokens"),
        (F.max("load").cast("double") / mean).alias("max_over_mean"),
        (F.min("load").cast("double") / mean).alias("min_over_mean"),
    )


@register(
    "llm_media_sampling_budget",
    oracle="""
    WITH m AS (
      SELECT ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind,
             doc_id % 8 AS w8, doc_id % 10 AS d10
      FROM documents
    ),
    u AS (
      SELECT kind,
             CASE kind
               WHEN 'image' THEN (64 + w8 * 16) * (48 + w8 * 12)
               WHEN 'audio' THEN (1000 + d10 * 500) // 40
               ELSE (1000 + d10 * 500 + 999) // 1000
             END AS units
      FROM m
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(units) AS BIGINT) AS total_units,
           CAST(SUM(units) AS DOUBLE) / COUNT(*) AS mean_units
    FROM u
    GROUP BY kind
    """,
)
def llm_media_sampling_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-multimodal EXT: MEDIA SAMPLING-BUDGET plan — the
    metadata-driven compute estimate a multimodal feature-extraction
    run prices BEFORE decoding a single byte: per modality, the work
    units the typed metadata implies (image → pixels from
    width×height, audio → 40 ms analysis windows from duration_ms,
    video → 1 fps frame samples, ceil). Decode is the expensive
    stage; this is the query that sizes its cluster, and it touches
    ONLY the metadata struct — never the payload column (columnar
    pruning keeps the binary bytes on disk).

    The oracle rebuilds the same plan from the id arithmetic that
    defines the corpus metadata, so a driver-green row certifies the
    typed-metadata columns round-trip correctly — the planning twin
    of the length-integrity histogram (F101).

    Scale shape: one metadata-only scan (payload column pruned), a
    per-row CASE, one O(kinds) hash agg. Integer units (``div`` /
    ``//`` and ceil-by-add both exact); mean is one IEEE divide.
    """
    from ..sources.multimodal import media_from_documents

    media = media_from_documents(spark, sf_dir).select("kind", "meta")
    units = (
        F.when(
            F.col("kind") == "image",
            F.col("meta.width").cast("long") * F.col("meta.height"),
        )
        .when(
            F.col("kind") == "audio",
            F.expr("CAST(meta.duration_ms AS BIGINT) div 40"),
        )
        .otherwise(
            F.expr("CAST(meta.duration_ms + 999 AS BIGINT) div 1000")
        )
    )
    return media.select("kind", units.alias("units")).groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("units").cast("long").alias("total_units"),
        (
            F.sum("units").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_units"),
    )


# ---------------------------------------------------------------------------
# Round-14 batch 6: cross-method dedup validation + FIM transform plan
# ---------------------------------------------------------------------------


@register(
    "llm_fingerprint_method_agreement",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    {_SQL_SIZES},
    {_SQL_BANDS},
    {_SQL_BUCKETS},
    {_SQL_CANDIDATES},
    jac AS (
      SELECT c.doc_a, c.doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared,
             CAST(COUNT(*) AS DOUBLE)
               / (sa.n + sb.n - COUNT(*)) AS jaccard
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
    ),
    jnear AS (
      SELECT doc_a, doc_b, n_shared FROM jac WHERE jaccard >= {_XSRC_J}
    ),
    sfps AS (
      {_SQL_SIMHASH_ROWS}
    ),
    sblocks AS (
      SELECT doc_id, b AS block_idx,
             substr(simhash, b * {_SIMH_BLOCK_W} + 1,
                    {_SIMH_BLOCK_W}) AS key
      FROM sfps, (SELECT unnest(range({_SIMH_BLOCKS})) AS b)
    ),
    sbsz AS (
      SELECT block_idx, key FROM sblocks
      GROUP BY block_idx, key
      HAVING COUNT(*) BETWEEN 2 AND {_LSH_BUCKET_CAP}
    ),
    scand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sblocks a
      JOIN sbsz USING (block_idx, key)
      JOIN sblocks b ON a.block_idx = b.block_idx AND a.key = b.key
                    AND a.doc_id < b.doc_id
    ),
    spairs AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_filter(range(1, {_SIMH_BITS + 1}),
                   i -> substr(fa.simhash, i, 1) <> substr(fb.simhash, i, 1)))
                  AS BIGINT) AS hamming
      FROM scand c
      JOIN sfps fa ON fa.doc_id = c.doc_a
      JOIN sfps fb ON fb.doc_id = c.doc_b
      WHERE len(list_filter(range(1, {_SIMH_BITS + 1}),
                i -> substr(fa.simhash, i, 1) <> substr(fb.simhash, i, 1)))
            <= {_SIMH_RADIUS}
    ),
    f AS (
      SELECT j.doc_a AS ja, s.doc_a AS sa, j.n_shared, s.hamming
      FROM jnear j FULL OUTER JOIN spairs s
        ON j.doc_a = s.doc_a AND j.doc_b = s.doc_b
    )
    SELECT CAST(COUNT(CASE WHEN ja IS NOT NULL AND sa IS NOT NULL
                           THEN 1 END) AS BIGINT) AS n_both,
           CAST(COUNT(CASE WHEN ja IS NULL THEN 1 END) AS BIGINT)
             AS n_simhash_only,
           CAST(COUNT(CASE WHEN sa IS NULL THEN 1 END) AS BIGINT)
             AS n_jaccard_only,
           CASE WHEN COUNT(ja) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(COUNT(CASE WHEN ja IS NOT NULL
                                      AND sa IS NOT NULL THEN 1 END)
                          AS DOUBLE) / COUNT(ja)
           END AS simhash_recall_of_jaccard,
           CASE WHEN COUNT(sa) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(COUNT(CASE WHEN ja IS NOT NULL
                                      AND sa IS NOT NULL THEN 1 END)
                          AS DOUBLE) / COUNT(sa)
           END AS jaccard_recall_of_simhash,
           CASE WHEN COUNT(CASE WHEN ja IS NOT NULL AND sa IS NOT NULL
                                THEN 1 END) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(COALESCE(SUM(CASE WHEN ja IS NOT NULL
                                            THEN hamming END), 0)
                          AS DOUBLE)
                     / COUNT(CASE WHEN ja IS NOT NULL AND sa IS NOT NULL
                                  THEN 1 END)
           END AS avg_hamming_both,
           CASE WHEN COUNT(CASE WHEN sa IS NULL THEN 1 END) = 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(COALESCE(SUM(CASE WHEN sa IS NULL
                                            THEN n_shared END), 0)
                          AS DOUBLE)
                     / COUNT(CASE WHEN sa IS NULL THEN 1 END)
           END AS avg_shared_jaccard_only
    FROM f
    """,
)
def llm_fingerprint_method_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J6 EXT: FINGERPRINT METHOD-AGREEMENT audit — the validation run
    behind choosing (or stacking) dedup geometries: full-outer-compare
    the MinHash-verified near-dup pairs (exact Jaccard ≥ {_XSRC_J}
    over the S24 store) against the SimHash Hamming pairs (radius
    {_SIMH_RADIUS} over the S22 store), reporting joint/exclusive
    counts, each method's recall of the other, and the distance
    profile of the disagreements (mean Hamming of agreed pairs, mean
    shared-shingle count of Jaccard-only pairs). High exclusive
    counts on BOTH sides is the published argument for running the
    two families stacked (MinHash sees shingle-set overlap, SimHash
    sees repeated-vocabulary mass); this measures that argument on
    the actual corpus instead of assuming it.

    Exactness: every metric is a count or an exact-int-sum ratio
    (hamming and n_shared are int64) with CASE zero guards — no
    double summation anywhere, so cross-engine bitwise parity holds.

    Scale shape: BOTH pair relations read write-time stores (S22
    fingerprints, S24 verified pairs) — no corpus pass at query time;
    the full outer join is keyed on the canonical (doc_a, doc_b) pair
    key over two pair-scale relations, and the report is a 1-row
    aggregate. At 100 TB this query costs two pair-table scans.
    """
    jnear = _ngram_jaccard_pairs_stored(spark, sf_dir).filter(
        F.col("jaccard") >= F.expr(f"CAST({_XSRC_J} AS DOUBLE)")
    ).select("doc_a", "doc_b", F.col("doc_a").alias("ja"), "n_shared")
    spairs = llm_simhash_hamming_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.col("doc_a").alias("sa"), "hamming"
    )
    f = jnear.join(spairs, ["doc_a", "doc_b"], "full_outer")
    both = F.col("ja").isNotNull() & F.col("sa").isNotNull()
    # SUM over an empty frame is NULL where the oracle's COUNT is 0
    # (a corpus where both pair stores are empty): coalesce every
    # count so the degenerate case reports explicit zeros on both
    # engines, which also keeps the CASE zero-guards aligned.
    def _n(pred: Column) -> Column:
        return F.coalesce(F.sum(pred.cast("long")), F.lit(0).cast("long"))

    n_both = _n(both)
    n_j = _n(F.col("ja").isNotNull())
    n_s = _n(F.col("sa").isNotNull())
    n_s_only = _n(F.col("ja").isNull())
    n_j_only = _n(F.col("sa").isNull())

    def _guarded(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            num.cast("double") / den.cast("double")
        )

    return f.agg(
        n_both.cast("long").alias("n_both"),
        n_s_only.cast("long").alias("n_simhash_only"),
        n_j_only.cast("long").alias("n_jaccard_only"),
        _guarded(n_both, n_j).alias("simhash_recall_of_jaccard"),
        _guarded(n_both, n_s).alias("jaccard_recall_of_simhash"),
        _guarded(
            F.coalesce(
                F.sum(F.when(F.col("ja").isNotNull(), F.col("hamming"))),
                F.lit(0),
            ),
            n_both,
        ).alias("avg_hamming_both"),
        _guarded(
            F.coalesce(
                F.sum(F.when(F.col("sa").isNull(), F.col("n_shared"))),
                F.lit(0),
            ),
            n_j_only,
        ).alias("avg_shared_jaccard_only"),
    )


#: Minimum tokens for a FIM-eligible document: below this the three
#: spans degenerate (prefix/middle/suffix of a couple tokens each).
_FIM_MIN_TOK = 8


@register(
    "llm_fim_split_plan",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS t, len({_SQL_TOKENS}) AS n_tok
      FROM documents
      WHERE len({_SQL_TOKENS}) >= {_FIM_MIN_TOK}
    ),
    cuts AS (
      SELECT doc_id, t, n_tok,
             1 + {_SQL_HEX32.format(h="md5(CAST(doc_id AS VARCHAR) || ':a')")}
                 % (n_tok - 1) AS c1,
             1 + {_SQL_HEX32.format(h="md5(CAST(doc_id AS VARCHAR) || ':b')")}
                 % (n_tok - 1) AS c2
      FROM t
    ),
    spans AS (
      SELECT doc_id, t, n_tok,
             LEAST(c1, c2) AS p1, GREATEST(c1, c2) AS p2
      FROM cuts
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(p1 AS BIGINT) AS prefix_len,
           CAST(p2 - p1 AS BIGINT) AS middle_len,
           CAST(n_tok - p2 AS BIGINT) AS suffix_len,
           -- a zero-length middle (p1 == p2) slices to NULL in DuckDB
           -- but '' under Spark's concat_ws — pin both to md5('')
           md5(COALESCE(array_to_string(t[p1 + 1 : p2], ' '), ''))
             AS middle_hash
    FROM spans
    """,
)
def llm_fim_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 EXT: FILL-IN-THE-MIDDLE split plan — the FIM training
    transform (Bavarian et al. 2022: reorder each document as
    prefix‖suffix‖middle so an autoregressive model learns infilling)
    reduced to its data-engineering core: per eligible document
    (≥ {_FIM_MIN_TOK} tokens), two deterministic md5-derived cut
    points split the token stream into prefix/middle/suffix, emitted
    with the span lengths and an md5 over the middle-span TEXT so the
    oracle verifies content, not just geometry (the chunk-hash
    discipline). Deterministic cuts (hash of the doc id, not RNG)
    make the plan reproducible across runs, engines, and
    partitionings — the property a training-data pipeline needs so
    that re-materializing a shard yields byte-identical sequences.

    Scale shape: embarrassingly parallel — one projection
    materializes the token array once per row, the cut arithmetic is
    an integer hash polynomial, and the middle slice reads the shared
    array; no shuffle anywhere (output partitioning inherits the
    scan). The length grammar (prefix ≥ 1, suffix ≥ 1, middle ≥ 0,
    lengths summing to n_tok) is pinned in
    tests/test_round14_ops_invariants.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", _tokens().alias("t"), F.size(_tokens()).alias("n_tok")
    ).filter(F.col("n_tok") >= _FIM_MIN_TOK)

    def _cut(tag: str) -> Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        return F.lit(1) + F.pmod(h, F.col("n_tok") - 1)

    cuts = toked.select(
        "doc_id", "t", "n_tok", _cut(":a").alias("c1"), _cut(":b").alias("c2")
    )
    p1, p2 = F.least("c1", "c2"), F.greatest("c1", "c2")
    return cuts.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        p1.cast("long").alias("prefix_len"),
        (p2 - p1).cast("long").alias("middle_len"),
        (F.col("n_tok") - p2).cast("long").alias("suffix_len"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("t"), (p1 + 1).cast("int"), (p2 - p1).cast("int"))
            )
        ).alias("middle_hash"),
    )


@register(
    "llm_padding_waste_curve",
    oracle=f"""
    WITH n AS (SELECT len({_SQL_TOKENS}) AS n_tok FROM documents)
    SELECT CAST(ctx AS BIGINT) AS ctx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(n_tok, ctx)) AS BIGINT) AS tokens_used,
           CAST(SUM(ctx - LEAST(n_tok, ctx)) AS BIGINT) AS pad_tokens,
           CAST(SUM(LEAST(n_tok, ctx)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * ctx) AS utilization
    FROM (VALUES {", ".join(f"({c})" for c in _TRUNC_CAPS)}) c(ctx)
    CROSS JOIN n
    GROUP BY ctx
    """,
)
def llm_padding_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23 EXT: PADDING-WASTE curve — the other half of the
    context-length decision the truncation curve (F98) prices: under
    the one-document-per-sequence layout (the SFT/eval batching
    default), every sequence pads to the context length, so per
    candidate ctx ({", ".join(str(c) for c in _TRUNC_CAPS)}) this
    reports the pad-token volume and the utilization (real tokens /
    ctx·sequences). F98 says what a cap DISCARDS (too short), this
    says what it BURNS in compute (too long) — the optimum sits where
    the two curves cross, and sequence packing (F23) is the operator
    that moves it.

    Scale shape: identical to F98 — one corpus scan for per-doc token
    counts, a 4-element literal axis over the (n_tok) projection, one
    map-side-combinable hash agg. Exact integer token accounting; the
    utilization is one IEEE divide.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(F.size(_tokens()).alias("n_tok"))
    axis = F.array(*[F.lit(c).cast("long") for c in _TRUNC_CAPS])
    used = F.least(F.col("n_tok"), F.col("ctx"))
    return (
        toked.select("n_tok", F.explode(axis).alias("ctx"))
        .groupBy("ctx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(used).cast("long").alias("tokens_used"),
            F.sum(F.col("ctx") - used).cast("long").alias("pad_tokens"),
            (
                F.sum(used).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.col("ctx"))
            ).alias("utilization"),
        )
    )


@register(
    "llm_decontaminate_token_mass",
    oracle=rf"""
    WITH {_SQL_DECON_GRAMS},
    {_SQL_DECON_BENCH},
    flagged AS (
      SELECT DISTINCT c.doc_id
      FROM grams c JOIN bench b USING (g)
      WHERE c.doc_id % {_DECON_MOD} <> {_DECON_REM}
    ),
    corpus AS (
      SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tok
      FROM documents
      WHERE doc_id % {_DECON_MOD} <> {_DECON_REM}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(f.doc_id) AS BIGINT) AS n_docs_flagged,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(COALESCE(SUM(CASE WHEN f.doc_id IS NOT NULL
                                  THEN n_tok END), 0) AS BIGINT)
             AS tokens_flagged,
           CAST(COALESCE(SUM(CASE WHEN f.doc_id IS NOT NULL
                                  THEN n_tok END), 0) AS DOUBLE)
             / SUM(n_tok) AS token_share_flagged
    FROM corpus c LEFT JOIN flagged f USING (doc_id)
    GROUP BY source
    """,
)
def llm_decontaminate_token_mass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J9 EXT: decontamination TOKEN-MASS ledger — the doc-count view
    (J9) understates what decontamination costs when flagged docs are
    long: per source, the TOKEN mass the benchmark-overlap filter
    would remove, next to the doc counts. Token share is the number
    that matters — the training-data budget is counted in tokens, and
    a source whose flagged 2% of docs carries 15% of its tokens is a
    different decision than one where the shares match.

    Scale shape: J9's plan (explode → broadcast-hash flag join)
    collapsed to a distinct flagged-id set, then ONE left join on the
    uniform doc_id key against the per-doc token counts and a
    per-source hash agg. The gram stream never shuffles; the flag set
    is doc-id-scale. Exact integer token sums; one IEEE divide.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs)
    grams = toked.select(
        "doc_id", F.explode(_word_ngrams(F.col("t"), _DECON_N)).alias("g")
    )
    is_bench = (F.col("doc_id") % _DECON_MOD) == _DECON_REM
    bench = grams.filter(is_bench).select("g").distinct()
    flagged = (
        grams.filter(~is_bench)
        .join(F.broadcast(bench), "g", "inner")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = docs.filter(
        (F.col("doc_id") % _DECON_MOD) != _DECON_REM
    ).select("doc_id", "source", F.size(_tokens()).alias("n_tok"))
    j = corpus.join(flagged, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias(
            "n_docs_flagged"
        ),
        F.sum("n_tok").cast("long").alias("tokens_total"),
        F.coalesce(F.sum(F.when(F.col("hit") == 1, F.col("n_tok"))), F.lit(0))
        .cast("long")
        .alias("tokens_flagged"),
        (
            F.coalesce(
                F.sum(F.when(F.col("hit") == 1, F.col("n_tok"))), F.lit(0)
            ).cast("double")
            / F.sum("n_tok").cast("double")
        ).alias("token_share_flagged"),
    )


# ---------------------------------------------------------------------------
# Round-15 batch 1: exact-substring dedup (the suffix-array family,
# Lee et al. 2022 "Deduplicating Training Data Makes Language Models
# Better" — the one dedup grain previously absent: token n-gram
# (S21/S24), span (F29/F32), sentence (F59) and winnowing (F50) exist;
# this adds the >=K-token EXACT shared-substring pass)
# ---------------------------------------------------------------------------

#: Anchor width in tokens for exact-substring dedup. Lee et al. use 50
#: BPE tokens on web-scale corpora; the synthetic corpus's ~54-token
#: documents need a proportionally shorter anchor. The key identity the
#: whole family rests on: a shared substring of L >= K tokens contains a
#: shared K-token anchor gram at EVERY start offset, and conversely any
#: shared anchor gram IS a shared K-token substring — so "tokens covered
#: by a shared >=K-token substring" equals the interval union of
#: [pos, pos+K-1] over shared anchor positions, with no suffix array and
#: no pairwise extension step needed for the mass accounting.
_SUBSTR_K = 8

#: Doc-frequency cap for the PAIR-grain query only: an anchor gram
#: shared by more than this many documents is boilerplate (license
#: headers, templates) whose within-group pair fan-out is O(df²); the
#: cap bounds the self-join exactly like the LSH bucket cap bounds band
#: buckets. The mass/histogram/stopgram queries need NO cap — they never
#: form pairs (group-by + join-back only) — and the stopgram audit
#: measures precisely the mass this cap suppresses from the pair view.
_SUBSTR_DF_CAP = 16

#: WITHIN-doc occurrence cap for the pair-grain query: the df cap bounds
#: distinct DOCS per anchor, but the occ⋈occ self-join multiplies
#: POSITION lists — a pathological doc repeating one anchor m times
#: meets a partner doing the same and contributes m×m rows per anchor.
#: Keeping only the FIRST k positions per (anchor, doc) bounds a group
#: at C(df_cap,2)·k² rows BY CONSTRUCTION. k=8 is lossless for real
#: corpora (a run duplicated r times within one doc keeps its first 8
#: copies; max_run_len is reported off the surviving earliest copies)
#: and saturates only adversarial periodic text, where the report reads
#: k+K-1 tokens instead of the unbounded span — the documented trade.
_SUBSTR_POS_CAP = 8


def _sql_substr_grams() -> str:
    """DuckDB CTEs: tokenized docs + positional K-token anchor grams."""
    gram = " || ' ' || ".join(
        f"t[i+{j}]" if j else "t[i]" for j in range(_SUBSTR_K)
    )
    return f"""tok AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS t FROM documents
    ),
    g AS (
      SELECT doc_id, source, i AS pos, md5({gram}) AS gh
      FROM tok, unnest(range(1, len(t) - {_SUBSTR_K - 2})) AS u(i)
      WHERE len(t) >= {_SUBSTR_K}
    )"""


def _sql_substr_runs() -> str:
    """DuckDB CTEs through per-doc merged shared-anchor runs."""
    return f"""{_sql_substr_grams()},
    sh AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    sp AS (SELECT g.doc_id, g.source, g.pos FROM g JOIN sh USING (gh)),
    fl AS (
      SELECT doc_id, source, pos,
             CASE WHEN LAG(pos) OVER w IS NULL
                    OR pos - LAG(pos) OVER w > {_SUBSTR_K}
                  THEN 1 ELSE 0 END AS nr
      FROM sp
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    rid AS (
      SELECT doc_id, source, pos,
             SUM(nr) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM fl
    ),
    runs AS (
      SELECT doc_id, source, run_id,
             MAX(pos) - MIN(pos) + {_SUBSTR_K} AS run_len
      FROM rid GROUP BY doc_id, source, run_id
    )"""


def _substr_gram_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, pos, gh): every K-token anchor gram with its
    1-based token position and md5 gram key. The gram stream is
    O(corpus tokens) rows — the family's only corpus-scale relation."""
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs, "doc_id", "source")
    return toked.select(
        "doc_id",
        "source",
        F.posexplode(_word_ngrams(F.col("t"), _SUBSTR_K)).alias(
            "p0", "gram"
        ),
    ).select(
        "doc_id",
        "source",
        (F.col("p0") + 1).cast("long").alias("pos"),
        F.md5("gram").alias("gh"),
    )


def _substr_shared_runs(grams: DataFrame) -> DataFrame:
    """Per-doc merged runs of shared anchors: (doc_id, source, run_id,
    run_len). Two anchors at positions p < q merge into one covered run
    iff q - p <= K (their [.,.+K-1] intervals overlap or touch), so the
    union length is max(pos) - min(pos) + K per merged group."""
    # "Shared" = gram seen in >= 2 distinct docs ⟺ min(doc_id) !=
    # max(doc_id) within the gram's partition. Resolving it with two
    # unordered window aggregates over ONE gh exchange computes the
    # corpus-scale gram stream ONCE; the former doc-frequency agg +
    # join-back rebuilt it per consumer (and at scale the join-back is
    # a second full-stream shuffle — the shared-gh set is corpus-sized).
    wg = Window.partitionBy("gh")
    sp = (
        grams.withColumn("mn", F.min("doc_id").over(wg))
        .withColumn("mx", F.max("doc_id").over(wg))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "source", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    fl = sp.select(
        "doc_id",
        "source",
        "pos",
        F.when(prev.isNull() | ((F.col("pos") - prev) > _SUBSTR_K), 1)
        .otherwise(0)
        .alias("nr"),
    )
    wr = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rid = fl.select(
        "doc_id", "source", "pos", F.sum("nr").over(wr).alias("run_id")
    )
    return rid.groupBy("doc_id", "source", "run_id").agg(
        (F.max("pos") - F.min("pos") + _SUBSTR_K)
        .cast("long")
        .alias("run_len")
    )


@register(
    "llm_substring_dup_mass",
    oracle=f"""
    WITH {_sql_substr_runs()},
    tot AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len({_SQL_TOKENS})) AS n_tokens
      FROM documents GROUP BY source
    ),
    dup AS (
      SELECT source,
             COUNT(DISTINCT doc_id) AS n_docs_with_dup,
             COUNT(*) AS n_runs,
             SUM(run_len) AS dup_tokens
      FROM runs GROUP BY source
    )
    SELECT t.source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(d.n_docs_with_dup, 0) AS BIGINT)
             AS n_docs_with_dup,
           CAST(COALESCE(d.n_runs, 0) AS BIGINT) AS n_runs,
           CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CASE WHEN t.n_tokens = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(COALESCE(d.dup_tokens, 0) AS DOUBLE)
                     / CAST(t.n_tokens AS DOUBLE)
           END AS dup_token_share
    FROM tot t LEFT JOIN dup d USING (source)
    """,
)
def llm_substring_dup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/F29 EXT: EXACT-SUBSTRING duplicate token mass per source —
    the Lee et al. 2022 accounting: how many tokens sit inside an exact
    substring of >= {_SUBSTR_K} tokens that also occurs in ANOTHER
    document. The substring grain catches what document-grain dedup
    can't (a licence block pasted into otherwise-unique pages) and what
    shingle-Jaccard blurs (it reports set overlap, not the exact copied
    token count). This is the report that decides whether a corpus
    needs the substring-grain pass at all.

    Exactness via the anchor identity (no suffix array needed for
    MASS): a token is covered by a shared >={_SUBSTR_K}-token substring
    iff some shared {_SUBSTR_K}-token anchor gram starts within
    [pos-{_SUBSTR_K}+1, pos] — so covered mass = interval union of
    anchor spans, computed as a gaps-and-islands merge (new run when
    the position gap exceeds K). All counts exact int64; the share is
    one IEEE divide with an explicit zero-token guard on both engines.

    Scale shape: the anchor stream is O(corpus tokens) rows wide and
    {_SUBSTR_K} tokens deep (md5-keyed, fixed width); "shared" is ONE
    hash agg on the gram key (map-side combinable) + one join back —
    never a pair fan-out, so NO cap is needed at this grain. The run
    merge is a doc-keyed window over only the SHARED positions (a tiny
    fraction of the corpus), and the rollup is O(sources). At 100 TB
    the anchor relation is the write-once store the S21/S24 discipline
    prescribes; every number here is one scan of it.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _substr_gram_positions(spark, sf_dir)
    runs = _substr_shared_runs(grams)
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(_tokens())).cast("long").alias("n_tokens"),
    )
    dup = runs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_with_dup"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum("run_len").cast("long").alias("dup_tokens"),
    )
    return tot.join(dup, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        F.coalesce("n_docs_with_dup", F.lit(0))
        .cast("long")
        .alias("n_docs_with_dup"),
        F.coalesce("n_runs", F.lit(0)).cast("long").alias("n_runs"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        )
        .alias("dup_token_share"),
    )


@register(
    "llm_substring_run_histogram",
    oracle=f"""
    WITH {_sql_substr_runs()},
    tot AS (SELECT SUM(run_len) AS dup_total FROM runs)
    SELECT CAST(run_len AS BIGINT) AS run_len,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(run_len * COUNT(*) AS BIGINT) AS run_token_mass,
           CAST(run_len * COUNT(*) AS DOUBLE)
             / CAST((SELECT dup_total FROM tot) AS DOUBLE) AS mass_share
    FROM runs GROUP BY run_len
    """,
)
def llm_substring_run_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F29 EXT: SHARED-RUN length histogram — the length distribution
    of the merged exact-substring runs behind `llm_substring_dup_mass`:
    runs at exactly {_SUBSTR_K} are incidental collisions of one anchor
    width; a fat tail of document-length runs is wholesale copying that
    document-grain dedup should have caught; the mid-band is the
    template/boilerplate mass only the substring grain removes. Lee et
    al.'s choice of the length threshold IS this histogram read as a
    knee-finding plot.

    Scale shape: identical plan prefix to the mass query (anchor agg +
    join-back + doc-keyed run merge); the histogram is an O(distinct
    run lengths) hash agg over the run relation, and run count is
    bounded by shared-anchor positions / 1 — pair-free at every stage.
    Counts exact; mass_share is one divide by the exact total (the
    zero-run corpus emits zero rows on BOTH engines — grouped
    aggregates, no axis to anchor).
    """
    # The run relation (tiny: shared positions merged per doc) feeds
    # BOTH the total and the histogram; materialize it once instead of
    # re-running the whole gram pipeline per consumer.
    runs = pin(
        _substr_shared_runs(_substr_gram_positions(spark, sf_dir))
    )
    tot = runs.agg(F.sum("run_len").alias("dup_total"))
    return (
        runs.groupBy("run_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "run_len",
            "n_runs",
            "n_docs",
            (F.col("run_len") * F.col("n_runs"))
            .cast("long")
            .alias("run_token_mass"),
            (
                (F.col("run_len") * F.col("n_runs")).cast("double")
                / F.col("dup_total").cast("double")
            ).alias("mass_share"),
        )
    )


@register(
    "llm_substring_pair_maxrun",
    oracle=f"""
    WITH {_sql_substr_grams()},
    okg AS (
      SELECT gh FROM g GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SUBSTR_DF_CAP}
    ),
    occ0 AS (
      SELECT g.gh, g.doc_id, g.pos,
             ROW_NUMBER() OVER (PARTITION BY g.gh, g.doc_id
                                ORDER BY g.pos) AS rn
      FROM g JOIN okg USING (gh)
    ),
    occ AS (
      SELECT gh, doc_id, pos FROM occ0 WHERE rn <= {_SUBSTR_POS_CAP}
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, a.pos - b.pos AS diag
      FROM occ a JOIN occ b
        ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    fl AS (
      SELECT doc_a, doc_b, diag, pa,
             CASE WHEN LAG(pa) OVER w IS NULL OR pa - LAG(pa) OVER w > 1
                  THEN 1 ELSE 0 END AS nc
      FROM p
      WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
    ),
    cid AS (
      SELECT doc_a, doc_b, diag, pa,
             SUM(nc) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa
               ROWS UNBOUNDED PRECEDING) AS chain_id
      FROM fl
    ),
    chains AS (
      SELECT doc_a, doc_b,
             MAX(pa) - MIN(pa) + {_SUBSTR_K} AS run_len,
             COUNT(*) AS n_pts
      FROM cid GROUP BY doc_a, doc_b, diag, chain_id
    )
    SELECT doc_a, doc_b,
           CAST(MAX(run_len) AS BIGINT) AS max_run_len,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(n_pts) AS BIGINT) AS n_anchor_matches
    FROM chains GROUP BY doc_a, doc_b
    """,
)
def llm_substring_pair_maxrun(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J6/F29 EXT: PAIR-grain exact-substring report — for every
    document pair sharing at least one {_SUBSTR_K}-token anchor, the
    LONGEST exact shared substring (in tokens) plus run/anchor counts.
    This is the bounded extend-and-verify stage of the suffix-array
    family: where the mass query answers "how much is duplicated", this
    answers "between whom and how long" — the relation a curation run
    inspects before deciding strip-the-span vs drop-the-doc.

    The diagonal identity makes the extension exact without touching
    text again: a shared run of L tokens between docs a and b is
    exactly a maximal chain of L-{_SUBSTR_K}+1 anchor matches whose
    positions advance by 1 on BOTH sides — i.e. consecutive pa on a
    constant diagonal pa-pb. Chains are merged with the same
    gaps-and-islands window as the mass query, per (pair, diagonal).

    Scale shape: the pair fan-out is the family's ONE quadratic hazard
    and is bounded by construction on BOTH axes — only anchors with
    doc-frequency in [2, {_SUBSTR_DF_CAP}] enter the self-join (the
    LSH-bucket-cap discipline; `llm_substring_stopgram_audit` measures
    the mass the cap excludes), and within a doc only the FIRST
    {_SUBSTR_POS_CAP} positions of an anchor survive (bounding the
    m×m within-doc occurrence blow-up a periodic document would
    otherwise inject), so a group contributes at most
    C({_SUBSTR_DF_CAP},2)·{_SUBSTR_POS_CAP}² pairs however hot the
    boilerplate (tests/test_round16_ops_invariants.py pins the bound
    on an adversarial single-anchor-repetition corpus). The chain
    window runs per (pair, diagonal) — millions of small partitions,
    no skew.
    """
    grams = _substr_gram_positions(spark, sf_dir)
    # Doc-frequency gate without the agg + join-back (which computed
    # the gram stream twice): dense_rank over doc_id within the gram's
    # partition, its max IS the exact distinct-doc count, and all
    # three windows ride ONE gh exchange. The surviving occurrence
    # relation is bounded on both axes (df cap × pos cap), so it is
    # materialized once for the two self-join sides instead of
    # re-running the gram pipeline per side.
    wnd = Window.partitionBy("gh").orderBy("doc_id")
    wg = Window.partitionBy("gh")
    wocc = Window.partitionBy("gh", "doc_id").orderBy("pos")
    occ = pin(
        grams.withColumn("dr", F.dense_rank().over(wnd))
        .withColumn("nd", F.max("dr").over(wg))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= _SUBSTR_DF_CAP))
        .withColumn("rn", F.row_number().over(wocc))
        .filter(F.col("rn") <= _SUBSTR_POS_CAP)
        .select("gh", "doc_id", "pos")
    )
    a = occ.select(
        "gh", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa")
    )
    b = occ.select(
        "gh", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    p = a.join(b, "gh").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    prev = F.lag("pa").over(w)
    fl = p.select(
        "doc_a",
        "doc_b",
        "diag",
        "pa",
        F.when(prev.isNull() | ((F.col("pa") - prev) > 1), 1)
        .otherwise(0)
        .alias("nc"),
    )
    wr = (
        Window.partitionBy("doc_a", "doc_b", "diag")
        .orderBy("pa")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cid = fl.select(
        "doc_a", "doc_b", "diag", "pa",
        F.sum("nc").over(wr).alias("chain_id"),
    )
    chains = cid.groupBy("doc_a", "doc_b", "diag", "chain_id").agg(
        (F.max("pa") - F.min("pa") + _SUBSTR_K).alias("run_len"),
        F.count(F.lit(1)).alias("n_pts"),
    )
    return chains.groupBy("doc_a", "doc_b").agg(
        F.max("run_len").cast("long").alias("max_run_len"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum("n_pts").cast("long").alias("n_anchor_matches"),
    )


@register(
    "llm_substring_stopgram_audit",
    oracle=f"""
    WITH {_sql_substr_grams()},
    dfreq AS (
      SELECT gh, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS occ
      FROM g GROUP BY gh
    )
    SELECT CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(occ) AS BIGINT) AS n_occurrences,
           CAST(CASE WHEN doc_freq BETWEEN 2 AND {_SUBSTR_DF_CAP}
                     THEN 1 ELSE 0 END AS BIGINT) AS in_pair_scope
    FROM dfreq GROUP BY doc_freq
    """,
)
def llm_substring_stopgram_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A18 EXT for the substring family: ANCHOR doc-frequency profile —
    per distinct document-frequency value: anchor-gram count, total
    occurrence mass, and whether that band enters the pair query's
    self-join (doc_freq in [2, {_SUBSTR_DF_CAP}]). The rows above the
    cap ARE the stop-grams (license headers, templates) whose pair
    fan-out the cap suppresses — this query prices that exclusion on
    the actual corpus, the same measure-the-cap discipline as the LSH
    cap-loss audit (F93). doc_freq = 1 rows profile the unique mass,
    the complement every dedup decision is weighed against.

    Scale shape: ONE hash agg on the anchor key (map-side combinable)
    followed by an O(distinct doc-frequencies) rollup — scan-shaped,
    no joins, no pairs; the profile costs strictly less than the mass
    query it tunes.
    """
    grams = _substr_gram_positions(spark, sf_dir)
    dfreq = grams.groupBy("gh").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("occ"),
    )
    return dfreq.groupBy("doc_freq").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("occ").cast("long").alias("n_occurrences"),
    ).select(
        F.col("doc_freq").cast("long").alias("doc_freq"),
        "n_grams",
        "n_occurrences",
        F.when(
            (F.col("doc_freq") >= 2) & (F.col("doc_freq") <= _SUBSTR_DF_CAP),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("in_pair_scope"),
    )


@register(
    "llm_substring_dedup_trim",
    oracle=f"""
    WITH {_sql_substr_grams()},
    sh AS (
      SELECT gh, MIN(struct_pack(d := doc_id, p := pos)) AS first_key
      FROM g GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    removable AS (
      SELECT g.doc_id, g.pos
      FROM g JOIN sh USING (gh)
      WHERE struct_pack(d := g.doc_id, p := g.pos) != sh.first_key
    ),
    covered AS (
      SELECT doc_id, unnest(range(pos, pos + {_SUBSTR_K})) AS cp
      FROM removable
    ),
    cov AS (
      SELECT doc_id, list(DISTINCT cp) AS cl FROM covered GROUP BY doc_id
    )
    SELECT tok.doc_id,
           CAST(len(t) AS BIGINT) AS n_tok,
           CAST(COALESCE(len(cl), 0) AS BIGINT) AS n_removed,
           md5(COALESCE(array_to_string(
             list_transform(
               list_filter(range(1, len(t) + 1),
                           i -> NOT list_contains(COALESCE(cl, []), i)),
               i -> t[i]), ' '), '')) AS kept_hash
    FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id
    """,
)
def llm_substring_dedup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F29/F32 EXT at the SUBSTRING grain: the Lee et al. 2022 output
    TRANSFORM for the exact-substring family — rebuild every document
    with all-but-first occurrences of every cross-document shared
    >= {_SUBSTR_K}-token run REMOVED. Where `llm_substring_dup_mass`
    prices the duplicated mass and `llm_substring_pair_maxrun` names
    the pairs, this emits the surviving corpus itself: per doc the
    removed-token count and an md5 of the rebuilt text, so the oracle
    verifies the actual surviving CONTENT (the F32 pattern, applied to
    the F112 anchor relation instead of the fixed-span gram relation).

    Semantics via the anchor identity: each shared anchor gram (doc
    frequency >= 2 across docs) keeps exactly its globally-first
    occurrence (lexicographic min (doc_id, pos)); every LATER
    occurrence's covered interval [pos, pos+{_SUBSTR_K}-1] is cut.
    The union of cut intervals is precisely the all-but-first coverage
    of every shared run (a run's later copy contributes all its anchor
    starts; its first copy contributes none), merged positionally —
    the gaps-and-islands merge happens implicitly in the position-set
    union. Within-doc-only repeats (df = 1) are NOT cut at this grain:
    that is the family's accounting (F112 counts only cross-doc mass),
    and the span grain (F32) already owns the within-doc case.

    Scale shape: anchor stream O(corpus tokens); canonical selection is
    ONE hash agg on the 128-bit gram key (min of a (doc,pos) struct
    merges map-side); the rejoin rides the same key — never a pair
    fan-out, so NO df cap is needed. Covered positions fan out
    <= {_SUBSTR_K}× the removable rows and collapse to one per-doc
    array bounded by the doc's own token count. The rebuild is a pure
    array expression over the re-tokenized text: no token-level
    shuffle, no order-sensitive reassembly join. Conservation vs F112
    (kept+removed <= dup mass, token totals equal) is pinned by
    tests/test_round16_ops_invariants.py with a pure-Python twin.
    """
    return substring_dedup_trim(load_table(spark, sf_dir, "documents"))


def substring_dedup_trim(docs: DataFrame) -> DataFrame:
    """The reusable transform behind ``llm_substring_dedup_trim`` over
    any (doc_id, source, text) relation — property-tested against a
    pure-Python reference on synthetic corpora in addition to the
    registered query's DuckDB oracle."""
    # ONE tokenize relation feeds both the rebuild (toked) and the
    # anchor stream (grams): the fan-out exchange subtree is shared, so
    # the physical planner reuses it (ReusedExchange) instead of
    # scanning and tokenizing the documents table twice.
    toked = tokenized(docs)
    grams = toked.select(
        "doc_id",
        F.posexplode(_word_ngrams(F.col("t"), _SUBSTR_K)).alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        F.md5("gram").alias("gh"),
    )
    okey = F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
    # Canonical selection without the agg + join-back (which computed
    # the gram stream twice): the globally-first occurrence and the
    # cross-doc test (min(doc_id) != max(doc_id) ⟺ doc frequency >= 2)
    # are window aggregates over ONE gh exchange.
    wg = Window.partitionBy("gh")
    removable = (
        grams.withColumn("mn", F.min("doc_id").over(wg))
        .withColumn("mx", F.max("doc_id").over(wg))
        .withColumn("first_key", F.min(okey).over(wg))
        .filter(
            (F.col("mn") != F.col("mx")) & (okey != F.col("first_key"))
        )
        .select("doc_id", "pos")
    )
    cov = (
        removable.select(
            "doc_id",
            F.explode(
                F.sequence("pos", F.col("pos") + (_SUBSTR_K - 1))
            ).alias("cp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("cp").alias("cl"))
    )
    cl = F.coalesce(F.col("cl"), F.array().cast("array<int>"))
    kept_idx = F.filter(
        F.sequence(F.lit(1), F.size("t")),
        lambda i: ~F.array_contains(cl, i),
    )
    return toked.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("long").alias("n_tok"),
        F.coalesce(F.size("cl"), F.lit(0)).cast("long").alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ", F.transform(kept_idx, lambda i: F.element_at("t", i))
            )
        ).alias("kept_hash"),
    )


@register(
    "llm_dedup_grain_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS t FROM documents
    ),
    sg AS (
      SELECT doc_id, p,
             md5(array_to_string(t[p + 1 : p + {_SPAN_N}], ' ')) AS h
      FROM (SELECT doc_id, t,
                   unnest(CASE WHEN len(t) >= {_SPAN_N}
                          THEN range(0, len(t) - {_SPAN_N - 1})
                          ELSE [] END) AS p
            FROM tok)
    ),
    scanon AS (
      SELECT h, COUNT(*) AS cnt,
             MIN(struct_pack(d := doc_id, p := p)) AS fk
      FROM sg GROUP BY h
    ),
    scov AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, unnest(range(p + 1, p + {_SPAN_N + 1})) AS pos
        FROM sg JOIN scanon USING (h)
        WHERE cnt >= 2 AND struct_pack(d := doc_id, p := p) != fk
      )
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5({" || ' ' || ".join(
                 f"t[i+{j}]" if j else "t[i]" for j in range(_SUBSTR_K)
             )}) AS gh
      FROM tok, unnest(range(1, len(t) - {_SUBSTR_K - 2})) AS u(i)
      WHERE len(t) >= {_SUBSTR_K}
    ),
    ssh AS (
      SELECT gh, MIN(struct_pack(d := doc_id, p := pos)) AS fk
      FROM g GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    ucov AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, unnest(range(pos, pos + {_SUBSTR_K})) AS pos
        FROM g JOIN ssh USING (gh)
        WHERE struct_pack(d := doc_id, p := pos) != fk
      )
    ),
    allpos AS (
      SELECT COALESCE(s.doc_id, u.doc_id) AS doc_id,
             CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_span,
             CASE WHEN u.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_sub
      FROM scov s FULL OUTER JOIN ucov u
        ON u.doc_id = s.doc_id AND u.pos = s.pos
    ),
    per_src AS (
      SELECT tok.source,
             CAST(SUM(a.in_span) AS BIGINT) AS removed_span,
             CAST(SUM(a.in_sub) AS BIGINT) AS removed_substr,
             CAST(SUM(a.in_span * a.in_sub) AS BIGINT) AS removed_both,
             CAST(COUNT(*) AS BIGINT) AS removed_either
      FROM allpos a JOIN tok ON tok.doc_id = a.doc_id
      GROUP BY tok.source
    ),
    tot AS (
      SELECT source, CAST(SUM(len(t)) AS BIGINT) AS n_tokens
      FROM tok GROUP BY source
    )
    SELECT t.source, t.n_tokens,
           CAST(COALESCE(p.removed_span, 0) AS BIGINT) AS removed_span,
           CAST(COALESCE(p.removed_substr, 0) AS BIGINT) AS removed_substr,
           CAST(COALESCE(p.removed_both, 0) AS BIGINT) AS removed_both,
           CAST(COALESCE(p.removed_either, 0) AS BIGINT) AS removed_either,
           CASE WHEN COALESCE(p.removed_either, 0) = 0 THEN NULL
                ELSE CAST(p.removed_both AS DOUBLE) / p.removed_either
           END AS grain_jaccard
    FROM tot t LEFT JOIN per_src p USING (source)
    """,
)
def llm_dedup_grain_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F125: DEDUP-GRAIN OVERLAP matrix — per source, the token
    positions the SPAN grain (F32: fixed {_SPAN_N}-token shingles,
    duplicate count >= 2 INCLUDING within-doc repeats) would trim vs
    the positions the SUBSTRING grain (F124/`llm_substring_dedup_trim`:
    {_SUBSTR_K}-token anchors shared ACROSS docs) would trim, their
    intersection and union, and the Jaccard between the two removal
    masks. This is the report that decides whether a curation run
    needs BOTH passes: grain_jaccard near 1 means one pass is
    redundant; a fat span-only band is within-doc repetition, a fat
    substring-only band is cross-doc template mass at offsets the
    fixed shingle phase misses.

    Exactness: both masks are exact position sets (the same
    all-but-first canonical-occurrence rule on both grains, 1-based
    positions); all counts int64; the Jaccard is one IEEE divide with
    a NULL empty-union guard on both engines.

    Scale shape: two anchor streams over one tokenize pass — each is
    the corresponding trim query's plan prefix (hash agg on the gram
    key + join-back; never a pair fan-out); covered positions fan out
    <= grain-width × removable rows, dedup to position sets with one
    distinct each, and meet in a (doc, pos)-keyed full outer join
    that is bounded by the duplicated mass, not the corpus. The
    rollup is O(sources).
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = tokenized(docs, "doc_id", "source")
    # r17 OPT: with _SPAN_N == _SUBSTR_K == 8 the two grains hash the
    # SAME 8-token windows — the span grain at 0-based p covers tokens
    # p+1..p+8 and hashes slice(t, p+1, 8); the substring grain at
    # 1-based pos = p+1 covers pos..pos+7 and hashes the identical
    # concat — so ONE gram stream feeds both masks. Moreover the
    # substring condition (distinct docs >= 2) implies the span
    # condition (occurrences >= 2), so the substring removal set is a
    # SUBSET of the span set: removed_both == removed_substr and
    # removed_either == removed_span, and the full-outer position join
    # of the two masks collapses into one aggregation carrying a
    # cross-doc flag. countDistinct(doc) >= 2 is computed as
    # min(doc) != max(doc), keeping the hash agg single-phase
    # (one exchange on the gram key instead of the two a distinct
    # aggregate plans; guide §2.3/§2.4).
    if _SPAN_N != _SUBSTR_K:  # the collapse below relies on it; a bare
        # assert would be stripped under `python -O` and silently produce
        # wrong removed_span/removed_either if the constants diverged
        raise ValueError(
            f"llm_dedup_grain_overlap's single-stream collapse requires "
            f"_SPAN_N == _SUBSTR_K (got {_SPAN_N} != {_SUBSTR_K}); "
            "restore the two-pipeline form if the grains diverge"
        )
    grams = toked.select(
        "doc_id",
        F.posexplode(_word_ngrams(F.col("t"), _SUBSTR_K)).alias(
            "p0", "gram"
        ),
    ).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), F.md5("gram").alias("gh")
    )
    okey = F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
    canon = (
        grams.groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(okey).alias("fk"),
            (F.min("doc_id") != F.max("doc_id")).alias("xdoc"),
        )
        .filter(F.col("cnt") >= 2)
        .select("gh", "fk", "xdoc")
    )
    # every non-canonical occurrence of a repeated gram is span-removed;
    # those of cross-doc grams are additionally substring-removed
    cov = (
        grams.join(canon, "gh")
        .filter(okey != F.col("fk"))
        .select(
            "doc_id",
            F.explode(
                F.sequence("pos", F.col("pos") + (_SUBSTR_K - 1))
            ).alias("pos"),
            F.col("xdoc").cast("int").alias("sub"),
        )
    )
    # one exchange on doc_id serves the position-dedup AND the per-doc
    # rollup (hash partitioning on doc_id satisfies both groupings)
    pos_mask = (
        cov.repartition("doc_id")
        .groupBy("doc_id", "pos")
        .agg(F.max("sub").alias("in_sub"))
    )
    per_doc = pos_mask.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum("in_sub").alias("n_sub"),
    )
    src = docs.select("doc_id", "source")
    per_src = (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_pos").cast("long").alias("removed_span"),
            F.sum("n_sub").cast("long").alias("removed_substr"),
            F.sum("n_sub").cast("long").alias("removed_both"),
            F.sum("n_pos").cast("long").alias("removed_either"),
        )
    )
    tot = toked.groupBy("source").agg(
        F.sum(F.size("t")).cast("long").alias("n_tokens")
    )
    return tot.join(per_src, "source", "left").select(
        "source",
        "n_tokens",
        F.coalesce("removed_span", F.lit(0)).cast("long").alias(
            "removed_span"
        ),
        F.coalesce("removed_substr", F.lit(0)).cast("long").alias(
            "removed_substr"
        ),
        F.coalesce("removed_both", F.lit(0)).cast("long").alias(
            "removed_both"
        ),
        F.coalesce("removed_either", F.lit(0)).cast("long").alias(
            "removed_either"
        ),
        F.when(
            F.coalesce("removed_either", F.lit(0)) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.col("removed_both").cast("double")
            / F.col("removed_either").cast("double")
        )
        .alias("grain_jaccard"),
    )


# ---------------------------------------------------------------------------
# Round-15 batch 2: training-shard mixing audits (the consumers of the
# F31 deterministic training order — is the shuffle actually mixing?)
# ---------------------------------------------------------------------------


@register(
    "llm_shard_mixing_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             ascii(substr(md5('{_ORDER_SEED}' || CAST(doc_id AS VARCHAR)),
                          1, 1)) % {_ORDER_SHARDS} AS shard
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS n FROM d),
    nl AS (SELECT lang, COUNT(*) AS n_l FROM d GROUP BY lang),
    ns AS (SELECT shard, COUNT(*) AS n_s FROM d GROUP BY shard),
    nsl AS (SELECT shard, lang, COUNT(*) AS n_sl FROM d
            GROUP BY shard, lang),
    axis AS (
      SELECT s.shard, l.lang
      FROM (SELECT unnest(range({_ORDER_SHARDS})) AS shard) s
      CROSS JOIN (SELECT DISTINCT lang FROM documents) l
    ),
    cells AS (
      SELECT a.shard, a.lang,
             COALESCE(x.n_sl, 0) AS n_sl,
             COALESCE(s.n_s, 0) AS n_s,
             l.n_l
      FROM axis a
      LEFT JOIN nsl x ON a.shard = x.shard AND a.lang = x.lang
      LEFT JOIN ns s ON a.shard = s.shard
      JOIN nl l ON a.lang = l.lang
    )
    SELECT CAST(shard AS INTEGER) AS shard,
           CAST(MAX(n_s) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN n_sl > 0 THEN 1 END) AS BIGINT)
             AS n_langs_present,
           CASE WHEN MAX(n_s) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(SUM(abs(n_sl * (SELECT n FROM n)
                                  - n_l * n_s)) AS DOUBLE)
                     / CAST(MAX(n_s) * (SELECT n FROM n) AS DOUBLE)
           END AS l1_mix_distance
    FROM cells GROUP BY shard
    """,
)
def llm_shard_mixing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F31/F84 EXT: SHARD MIXING audit — per training shard (the F31
    seeded-shuffle assignment, shard = first md5 key byte mod
    {_ORDER_SHARDS}), the L1 distance between the shard's language mix
    and the corpus-global mix: Σ_lang |share_in_shard − share_global|,
    in [0, 2]. A well-mixed shuffle puts every shard near 0; a shard
    near 2 is a sorted-input smell (a data-loader reading it sees one
    register for a whole epoch slice). This is the check a training
    run does AFTER planning shards (F84 balances counts; this audits
    composition).

    Exactness: the distance is computed on the common denominator —
    Σ |n_sl·n − n_l·n_s| as exact int64, ONE divide by n_s·n at the
    end (envelope: n_sl·n < 2^63 holds to ~3·10^9 docs; beyond that
    scale the shares drop to per-million integers first). Absent
    (shard, lang) cells contribute |0 − n_l·n_s| via the explicit
    shard×lang axis, and the literal shard axis keeps empty shards
    visible with an explicit 0.0 (the degenerate-corpus discipline).

    Scale shape: one corpus scan to the (shard, lang) contingency
    table — a hash agg onto at most {_ORDER_SHARDS}×|langs| rows; the
    marginals DERIVE from that table (no second scan), and the axis
    join runs on broadcast-sized relations.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        (
            F.ascii(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(_ORDER_SEED),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    1,
                    1,
                )
            )
            % _ORDER_SHARDS
        ).alias("shard"),
    )
    nsl = d.groupBy("shard", "lang").agg(
        F.count(F.lit(1)).alias("n_sl")
    )
    ns = nsl.groupBy("shard").agg(F.sum("n_sl").alias("n_s"))
    nl = nsl.groupBy("lang").agg(F.sum("n_sl").alias("n_l"))
    n = nsl.agg(F.sum("n_sl").alias("n"))
    axis = (
        spark.createDataFrame(
            [(s,) for s in range(_ORDER_SHARDS)], "shard int"
        )
        .crossJoin(nl.select("lang", "n_l"))
    )
    cells = (
        axis.join(nsl, ["shard", "lang"], "left")
        .join(ns, "shard", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "shard",
            "lang",
            F.coalesce("n_sl", F.lit(0)).alias("n_sl"),
            F.coalesce("n_s", F.lit(0)).alias("n_s"),
            "n_l",
            "n",
        )
    )
    return cells.groupBy("shard").agg(
        F.max("n_s").cast("long").alias("n_docs"),
        F.sum((F.col("n_sl") > 0).cast("long"))
        .cast("long")
        .alias("n_langs_present"),
        F.when(F.max("n_s") == 0, F.lit(0.0))
        .otherwise(
            F.sum(
                F.abs(
                    F.col("n_sl") * F.col("n") - F.col("n_l") * F.col("n_s")
                )
            ).cast("double")
            / (F.max("n_s") * F.max("n")).cast("double")
        )
        .alias("l1_mix_distance"),
    ).select(
        F.col("shard").cast("int").alias("shard"),
        "n_docs",
        "n_langs_present",
        "l1_mix_distance",
    )


@register(
    "llm_interleave_run_lengths",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             md5('{_ORDER_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
             ascii(substr(md5('{_ORDER_SEED}' || CAST(doc_id AS VARCHAR)),
                          1, 1)) % {_ORDER_SHARDS} AS shard
      FROM documents
    ),
    fl AS (
      SELECT shard, source, shuffle_key, doc_id,
             CASE WHEN LAG(source) OVER w IS NULL
                    OR LAG(source) OVER w <> source
                  THEN 1 ELSE 0 END AS nr
      FROM keyed
      WINDOW w AS (PARTITION BY shard ORDER BY shuffle_key, doc_id)
    ),
    rid AS (
      SELECT shard, source,
             SUM(nr) OVER (PARTITION BY shard
               ORDER BY shuffle_key, doc_id
               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM fl
    ),
    runs AS (
      SELECT shard, run_id, source, COUNT(*) AS run_len
      FROM rid GROUP BY shard, run_id, source
    )
    SELECT source,
           CAST(SUM(run_len) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS max_run_len,
           CAST(SUM(run_len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_run_len
    FROM runs GROUP BY source
    """,
)
def llm_interleave_run_lengths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F31/F39 EXT: INTERLEAVE quality audit — run-length-encode the
    deterministic training order (F31's seeded shuffle) by SOURCE and
    report, per source, how many consecutive-run blocks it forms, the
    longest block, and the mean block length. A healthy shuffle puts
    mean run length near 1/(1−share); long runs mean a data loader
    streams one source for thousands of steps (gradient correlation —
    the failure F39's round-robin interleave exists to prevent). Runs
    never cross shard boundaries (shards are separate files at train
    time).

    Exactness: run lengths are exact int64 (windowed gaps-and-islands
    over the deterministic (shuffle_key, doc_id) order — total order,
    no tie ambiguity); the mean is one IEEE divide of two exact ints.

    Scale shape: reuses F31's one-shuffle shape — the window is
    partitioned by shard, so with O(cluster) shards no partition holds
    more than corpus/shards rows; the RLE adds a lag + running-sum
    over the same sort (no extra exchange: same partition key and
    order), and the rollup is O(sources).
    """
    docs = load_table(spark, sf_dir, "documents")
    ordered = training_order(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    prev = F.lag("source").over(w)
    fl = ordered.select(
        "shard",
        "source",
        "shuffle_key",
        "doc_id",
        F.when(prev.isNull() | (prev != F.col("source")), 1)
        .otherwise(0)
        .alias("nr"),
    )
    wr = (
        Window.partitionBy("shard")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rid = fl.select(
        "shard", "source", F.sum("nr").over(wr).alias("run_id")
    )
    runs = rid.groupBy("shard", "run_id", "source").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("source").agg(
        F.sum("run_len").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("max_run_len"),
        (
            F.sum("run_len").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_run_len"),
    )


# ---------------------------------------------------------------------------
# Round-15 batch 3: dedup-graph placement audits (shard spillover,
# transitive closure), privacy cell sizes, embedding cluster separation
# ---------------------------------------------------------------------------

#: Jaccard cutoff shared by the placement audits — the mid-point of the
#: sweep axis, the threshold the F88 curve's knee usually lands on.
_SPILL_J = "0.8"

#: Transitivity-audit threshold axis (a sub-axis of _SWEEP_THRESHOLDS:
#: the wedge relation is threshold-monotone, three points bound the
#: curve).
_TRANS_THRESHOLDS = ["0.7", "0.8", "0.9"]


@register(
    "llm_cross_shard_dup_spillover",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS},
    near AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {_SPILL_J}),
    sharded AS (
      SELECT t.s,
             {_SQL_HEX32.format(h="md5(CAST(doc_a AS VARCHAR))")} % t.s AS sa,
             {_SQL_HEX32.format(h="md5(CAST(doc_b AS VARCHAR))")} % t.s AS sb
      FROM near
      CROSS JOIN (VALUES {", ".join(f"({s})" for s in _SHARD_COUNTS)}) t(s)
    ),
    hits AS (
      SELECT s, COUNT(*) AS n_pairs,
             SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS n_cross
      FROM sharded GROUP BY s
    )
    SELECT CAST(t.s AS BIGINT) AS n_shards,
           CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(h.n_cross, 0) AS BIGINT) AS n_cross,
           CASE WHEN COALESCE(h.n_pairs, 0) = 0 THEN NULL
                ELSE CAST(h.n_cross AS DOUBLE) / h.n_pairs END AS cross_share,
           1.0 - 1.0 / t.s AS random_share
    FROM (VALUES {", ".join(f"({s})" for s in _SHARD_COUNTS)}) t(s)
    LEFT JOIN hits h ON h.s = t.s
    ORDER BY n_shards
    """,
)
def llm_cross_shard_dup_spillover(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J6/F84 EXT: CROSS-SHARD duplicate SPILLOVER — for each candidate
    shard count, the fraction of verified near-dup pairs (Jaccard ≥
    0.8) whose members land on DIFFERENT training shards under the
    standard md5 placement. This is the number that decides whether
    shard-LOCAL dedup (each worker dedups its own shard, no global
    shuffle) is good enough: cross_share IS the recall ceiling that
    policy forfeits, and comparing it against the random baseline
    1 − 1/s shows content-oblivious hashing gives near-dups no
    locality whatsoever — the quantified argument for running dedup
    BEFORE sharding, not per shard after.

    Exactness: shard ids are the shared 8-hex-digit md5 polynomial
    (no engine hash functions); Jaccard is the exact integer ratio;
    counts exact int64; shares are single IEEE divides, NULL (both
    engines) on a pair-free corpus.

    Scale shape: reads the S24 verified-pair store — the corpus-scale
    candidate+verify work is the write-time pass every placement
    audit shares; this query explodes only the O(|pairs|) relation
    |axis|× and hash-aggregates to 3 rows. At 100 TB it is a
    pair-scale scan, independent of corpus text size.

    Reference basis: extends the reference's content-id dedup grain
    (src/plain_contract.rs content hashing) to placement policy —
    pure EXT per SURVEY §2.6.
    """
    pairs = _ngram_jaccard_pairs_stored(spark, sf_dir).filter(
        F.col("jaccard") >= F.lit(float(_SPILL_J))
    )
    def _shard(c: str) -> Column:
        return F.conv(
            F.substring(F.md5(F.col(c).cast("string")), 1, 8), 16, 10
        ).cast("long")

    axis_arr = F.array(*[F.lit(s).cast("long") for s in _SHARD_COUNTS])
    hits = (
        pairs.select(
            _shard("doc_a").alias("ha"),
            _shard("doc_b").alias("hb"),
            F.explode(axis_arr).alias("s"),
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(
                    F.pmod("ha", F.col("s")) != F.pmod("hb", F.col("s")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_cross"),
        )
    )
    axis = spark.range(1).select(F.explode(axis_arr).alias("s"))
    return (
        axis.join(hits, "s", "left")
        .select(
            F.col("s").alias("n_shards"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_cross", F.lit(0)).cast("long").alias("n_cross"),
            F.when(
                F.coalesce("n_pairs", F.lit(0)) == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.col("n_cross").cast("double") / F.col("n_pairs").cast("double")
            )
            .alias("cross_share"),
            (F.lit(1.0) - F.lit(1.0) / F.col("s").cast("double")).alias(
                "random_share"
            ),
        )
        .orderBy("n_shards")
    )


@register(
    "llm_dedup_transitivity_audit",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS},
    th AS (SELECT unnest([{", ".join(_TRANS_THRESHOLDS)}]) AS threshold),
    edges AS (
      SELECT t.threshold, j.doc_a, j.doc_b
      FROM jac j JOIN th t ON j.jaccard >= t.threshold
    ),
    sym AS (
      SELECT threshold, doc_a AS u, doc_b AS v FROM edges
      UNION ALL
      SELECT threshold, doc_b AS u, doc_a AS v FROM edges
    ),
    wedges AS (
      SELECT e1.threshold, e1.v AS a, e2.v AS c
      FROM sym e1
      JOIN sym e2 ON e1.threshold = e2.threshold
                 AND e1.u = e2.u AND e1.v < e2.v
    ),
    wstat AS (
      SELECT w.threshold,
             COUNT(*) AS n_wedges,
             SUM(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS n_closed
      FROM wedges w
      LEFT JOIN edges e ON e.threshold = w.threshold
                       AND e.doc_a = w.a AND e.doc_b = w.c
      GROUP BY w.threshold
    ),
    estat AS (SELECT threshold, COUNT(*) AS n_edges FROM edges GROUP BY threshold)
    SELECT t.threshold,
           CAST(COALESCE(e.n_edges, 0) AS BIGINT) AS n_edges,
           CAST(COALESCE(w.n_wedges, 0) AS BIGINT) AS n_wedges,
           CAST(COALESCE(w.n_closed, 0) AS BIGINT) AS n_closed,
           CASE WHEN COALESCE(w.n_wedges, 0) = 0 THEN NULL
                ELSE CAST(w.n_closed AS DOUBLE) / w.n_wedges END AS closure_rate
    FROM th t
    LEFT JOIN estat e ON e.threshold = t.threshold
    LEFT JOIN wstat w ON w.threshold = t.threshold
    ORDER BY t.threshold
    """,
)
def llm_dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 EXT: DEDUP TRANSITIVITY audit — connected-component dedup
    (J7, J23) treats "near-dup of" as transitive: if A~B and B~C the
    cluster keeps one of {A, B, C} even when A and C were never
    verified similar. This query measures how wrong that assumption
    is, per threshold: of all wedges (A~B~C through a shared middle),
    what fraction close into a verified A~C edge? A closure rate near
    1 says clustering is safe; a low rate quantifies the semantic
    drift (chains of borderline pairs merging distinct documents) —
    the known failure mode of transitive-closure dedup that teams
    usually discover AFTER deleting the wrong documents. Wedges are
    counted at the (middle, unordered-endpoint-pair) grain, the
    standard triadic-closure denominator.

    Exactness: edges are exact-integer-ratio Jaccard against shared
    decimal literals; wedge/closure counts exact int64; the rate is
    one IEEE divide, NULL on a wedge-free corpus (both engines).

    Scale shape: O(pairs) off the S24 store; the wedge self-join is
    keyed on the middle vertex, whose degree is bounded by the LSH
    bucket cap × bands (the same bound that caps the candidate
    generator), so the wedge relation is at most sum-of-degree² with
    capped degree — never corpus-quadratic. Both joins are
    equi-keyed (middle vertex; then the canonical (a,c) edge key).
    """
    pairs = _ngram_jaccard_pairs_stored(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    th_arr = F.array(
        *[F.expr(f"CAST({t} AS DOUBLE)") for t in _TRANS_THRESHOLDS]
    )
    edges = (
        pairs.select(
            "doc_a", "doc_b", "jaccard", F.explode(th_arr).alias("threshold")
        )
        .filter(F.col("jaccard") >= F.col("threshold"))
        .select("threshold", "doc_a", "doc_b")
    )
    sym = edges.select(
        "threshold", F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        edges.select(
            "threshold", F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
        )
    )
    e1 = sym.alias("e1")
    e2 = sym.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.threshold") == F.col("e2.threshold"))
        & (F.col("e1.u") == F.col("e2.u"))
        & (F.col("e1.v") < F.col("e2.v")),
    ).select(
        F.col("e1.threshold").alias("threshold"),
        F.col("e1.v").alias("a"),
        F.col("e2.v").alias("c"),
    )
    closed = edges.select(
        "threshold", F.col("doc_a").alias("a"), F.col("doc_b").alias("c")
    ).withColumn("hit", F.lit(1))
    wstat = (
        wedges.join(closed, ["threshold", "a", "c"], "left")
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_wedges"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_closed"),
        )
    )
    estat = edges.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    axis = spark.range(1).select(F.explode(th_arr).alias("threshold"))
    return (
        axis.join(estat, "threshold", "left")
        .join(wstat, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce("n_wedges", F.lit(0)).cast("long").alias("n_wedges"),
            F.coalesce("n_closed", F.lit(0)).cast("long").alias("n_closed"),
            F.when(
                F.coalesce("n_wedges", F.lit(0)) == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.col("n_closed").cast("double")
                / F.col("n_wedges").cast("double")
            )
            .alias("closure_rate"),
        )
        .orderBy("threshold")
    )


#: k-anonymity audit parameters: the quasi-identifier length bucket
#: width (chars) and the k axis the report sweeps.
_KANON_LEN_BUCKET = 128
_KANON_KS = (2, 5, 10, 20)


@register(
    "llm_kanonymity_cell_audit",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, n_chars // {_KANON_LEN_BUCKET} AS len_bucket,
             COUNT(*) AS cell_n
      FROM documents GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT COUNT(*) AS n_cells, SUM(cell_n) AS n_docs FROM cells
    ),
    per_k AS (
      SELECT t.k,
             SUM(CASE WHEN c.cell_n < t.k THEN 1 ELSE 0 END) AS n_cells_below,
             SUM(CASE WHEN c.cell_n < t.k THEN c.cell_n ELSE 0 END)
               AS n_docs_at_risk
      FROM (VALUES {", ".join(f"({k})" for k in _KANON_KS)}) t(k)
      LEFT JOIN cells c ON TRUE
      GROUP BY t.k
    )
    SELECT CAST(p.k AS BIGINT) AS k,
           CAST(tot.n_cells AS BIGINT) AS n_cells,
           CAST(COALESCE(p.n_cells_below, 0) AS BIGINT) AS n_cells_below,
           CAST(COALESCE(p.n_docs_at_risk, 0) AS BIGINT) AS n_docs_at_risk,
           CASE WHEN COALESCE(tot.n_docs, 0) = 0 THEN NULL
                ELSE CAST(p.n_docs_at_risk AS DOUBLE) / tot.n_docs
           END AS risk_share
    FROM per_k p CROSS JOIN tot
    ORDER BY k
    """,
)
def llm_kanonymity_cell_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F27 EXT: K-ANONYMITY cell-size audit — the privacy complement of
    PII redaction: treat (lang, source, length-bucket) as the
    quasi-identifier a release would expose as metadata, and report,
    for each candidate k, how many QI cells hold fewer than k
    documents and how many documents sit in those small cells. A
    document alone in its cell is re-identifiable from metadata even
    after F27 scrubs the text; the k-axis prices the
    suppress-or-generalize decision (drop small cells vs widen the
    length bucket) the way the dedup threshold sweep prices its
    cutoff. Cell grain, not row grain, is what makes this an audit a
    release gate can run at corpus scale.

    Exactness: cells and counts are exact int64 (integer division for
    the bucket); the risk share is one IEEE divide, NULL on an empty
    corpus in both engines.

    Scale shape: ONE corpus scan of three scalar columns (text never
    read — column pruning) to an O(|langs|·|sources|·|buckets|) cell
    relation, then an O(cells × k-axis) rollup on the tiny relation.
    Map-side combine does nearly all the work; nothing is
    corpus-proportional after the first agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang",
        "source",
        # integer division by construction (matches the oracle's `//`)
        # rather than a double divide + truncating cast that leans on
        # every n_chars/128 being exactly representable
        F.expr(f"n_chars div {_KANON_LEN_BUCKET}").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("cell_n"))
    # every k row of the explode sees ALL cells, so the totals fold
    # into the same aggregate — one corpus scan, no second pass for a
    # separate totals relation and no broadcast join back
    k_arr = F.array(*[F.lit(k).cast("long") for k in _KANON_KS])
    per_k = (
        cells.select("cell_n", F.explode(k_arr).alias("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("cell_n").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("cell_n") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_cells_below"),
            F.sum(
                F.when(F.col("cell_n") < F.col("k"), F.col("cell_n")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_docs_at_risk"),
        )
    )
    axis = spark.range(1).select(F.explode(k_arr).alias("k"))
    return (
        axis.join(per_k, "k", "left")
        .select(
            "k",
            F.coalesce("n_cells", F.lit(0)).cast("long").alias("n_cells"),
            F.coalesce("n_cells_below", F.lit(0))
            .cast("long")
            .alias("n_cells_below"),
            F.coalesce("n_docs_at_risk", F.lit(0))
            .cast("long")
            .alias("n_docs_at_risk"),
            F.when(
                F.coalesce("n_docs", F.lit(0)) == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.col("n_docs_at_risk").cast("double")
                / F.col("n_docs").cast("double")
            )
            .alias("risk_share"),
        )
        .orderBy("k")
    )


@register(
    "llm_cluster_separation_audit",
    oracle=f"""
    WITH pd AS (
      SELECT label, d,
             CAST(SUM({_SQL_ISCALE.format(v="embedding[d]")}) AS HUGEINT) AS sv,
             CAST(SUM(CAST({_SQL_ISCALE.format(v="embedding[d]")} AS BIGINT)
                      * {_SQL_ISCALE.format(v="embedding[d]")}) AS HUGEINT)
               AS sq,
             COUNT(*) AS n
      FROM embeddings, range(1, {_EMB_DIM + 1}) r(d)
      GROUP BY label, d
    ),
    lab AS (
      SELECT label, MAX(n) AS n,
             SUM(sq) AS ssq,
             SUM(sv * sv) AS s2
      FROM pd GROUP BY label
    ),
    scat AS (
      SELECT label, n,
             sqrt(CAST(n * ssq - s2 AS DOUBLE))
               / (CAST(n AS DOUBLE) * {_FP}) AS scatter_rms
      FROM lab
    ),
    pairs AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt(CAST(SUM(CAST((a.sv * b.n - b.sv * a.n) AS HUGEINT)
                           * (a.sv * b.n - b.sv * a.n)) AS DOUBLE))
               / (CAST(a.n AS DOUBLE) * b.n * {_FP}) AS dist
      FROM pd a
      JOIN pd b ON a.d = b.d AND a.label <> b.label
      GROUP BY a.label, b.label, a.n, b.n
    ),
    r AS (
      SELECT p.la AS label, p.lb AS peer,
             (sa.scatter_rms + sb.scatter_rms) / p.dist AS rr,
             ROW_NUMBER() OVER (
               PARTITION BY p.la
               ORDER BY (sa.scatter_rms + sb.scatter_rms) / p.dist DESC, p.lb
             ) AS rk
      FROM pairs p
      JOIN scat sa ON sa.label = p.la
      JOIN scat sb ON sb.label = p.lb
    )
    SELECT s.label, CAST(s.n AS BIGINT) AS n_points,
           s.scatter_rms,
           r.peer AS worst_peer,
           r.rr AS db_component
    FROM scat s JOIN r ON r.label = s.label AND r.rk = 1
    ORDER BY s.label
    """,
)
def llm_cluster_separation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6/U7 EXT: CLUSTER SEPARATION audit (Davies-Bouldin components)
    — per label: the RMS scatter around its centroid, and the worst
    Davies-Bouldin ratio R_ij = (s_i + s_j) / d(c_i, c_j) over all
    other labels, with the offending peer named. Silhouette (U7)
    scores POINTS and costs a point-to-centroid pass per pair;
    this is the centroid-grain report a labeling/clustering pipeline
    reads to find which two clusters are about to merge — db_component
    > 1 means the worst peer's scatter overlaps the gap. Naming the
    peer (not just the index) is what makes the audit actionable:
    it says WHICH labels to inspect or re-split.

    Exactness: all moments are exact fixed-point integers — per-dim
    sums sv, squared sums sq (HUGEINT / DECIMAL(38,0)); the scatter
    identity n·Σ|x|² − |S|² and the cross-centroid distance
    |n_j·S_i − n_i·S_j|² clear denominators so sqrt/divides happen
    ONCE on identical integers (magnitude envelope: |sv·n| ≤ 2^49 at
    the 100× probe, squared ≤ 2^98, dim-summed ≤ 2^104 < DECIMAL(38)
    ≈ 2^126). The worst-peer argmax orders on (R desc, peer id) — a
    total order on cross-engine-identical doubles.

    Scale shape: ONE corpus pass (posexplode → (label, dim) hash agg,
    map-side combinable) reduces everything to an O(labels·dim)
    relation; the label-pair join runs on that tiny relation
    (labels² · dim rows — with bounded label vocabularies this is
    constant-sized regardless of corpus row count). No per-point
    pairwise stage anywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    scaled = F.transform("embedding", lambda x: _iscale(x))
    pd_rel = (
        emb.select("label", F.posexplode(scaled).alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).alias("d"))
        .agg(
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)")).alias("sq"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    lab = pd_rel.groupBy("label").agg(
        F.max("n").alias("n"),
        F.sum("sq").alias("ssq"),
        F.sum(F.col("sv") * F.col("sv")).alias("s2"),
    )
    scat = lab.select(
        "label",
        "n",
        (
            F.sqrt((F.col("n") * F.col("ssq") - F.col("s2")).cast("double"))
            / (F.col("n").cast("double") * F.lit(float(_FP)))
        ).alias("scatter_rms"),
    )
    a = pd_rel.alias("a")
    b = pd_rel.alias("b")
    diff = (
        F.col("a.sv") * F.col("b.n").cast("decimal(38,0)")
        - F.col("b.sv") * F.col("a.n").cast("decimal(38,0)")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.label") != F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("la"),
            F.col("b.label").alias("lb"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.sum(diff * diff).alias("dd"))
        .select(
            "la",
            "lb",
            (
                F.sqrt(F.col("dd").cast("double"))
                / (
                    F.col("na").cast("double")
                    * F.col("nb").cast("double")
                    * F.lit(float(_FP))
                )
            ).alias("dist"),
        )
    )
    sa = scat.select(
        F.col("label").alias("la"), F.col("scatter_rms").alias("s_a")
    )
    sb = scat.select(
        F.col("label").alias("lb"), F.col("scatter_rms").alias("s_b")
    )
    rr = (
        pairs.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .select(
            F.col("la").alias("label"),
            F.col("lb").alias("peer"),
            ((F.col("s_a") + F.col("s_b")) / F.col("dist")).alias("rr"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("rr").desc(), F.col("peer"))
    worst = rr.select(
        "label", "peer", "rr", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") == 1)
    return (
        scat.join(worst, "label")
        .select(
            "label",
            F.col("n").cast("long").alias("n_points"),
            "scatter_rms",
            F.col("peer").alias("worst_peer"),
            F.col("rr").alias("db_component"),
        )
        .orderBy("label")
    )


#: Differential-privacy release plan: the epsilon axis a release gate
#: prices (expected Laplace |error| per cell = 1/eps).
_DP_EPSILONS = ["0.1", "1.0", "10.0"]


@register(
    "llm_dp_histogram_release",
    oracle=f"""
    WITH cells AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM documents GROUP BY lang
    ),
    drawn AS (
      SELECT c.lang, c.n_true, t.eps,
             ({_SQL_HEX32.format(h="md5(c.lang || '|' || CAST(t.eps AS VARCHAR))")}
              + 0.5) / 4294967296.0 AS u
      FROM cells c
      CROSS JOIN (SELECT unnest([{", ".join(_DP_EPSILONS)}]) AS eps) t
    ),
    noised AS (
      SELECT lang, n_true, eps,
             n_true - (1.0 / eps) * sign(u - 0.5)
                      * ln(1.0 - 2.0 * abs(u - 0.5)) AS n_noised
      FROM drawn
    )
    SELECT lang, eps, n_true, n_noised,
           abs(n_noised - n_true) AS abs_err,
           abs(n_noised - n_true) / n_true AS rel_err
    FROM noised
    ORDER BY lang, eps
    """,
)
def llm_dp_histogram_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F27/F118 EXT: DP HISTOGRAM RELEASE plan — the per-language count
    histogram under SIMULATED Laplace noise at three epsilon budgets:
    true count, noised count, absolute and relative error per cell.
    This is the release gate's pricing query (the third privacy lens
    after PII redaction and the k-anonymity cells): expected |error|
    is 1/eps per cell, so the report shows at which epsilon each
    cell's signal survives its own noise — small cells drown first,
    which is exactly the k-anonymity small-cell story told in DP
    terms. The noise is DETERMINISTIC (md5-seeded inverse-CDF) by
    design: this query is the reproducible budget AUDIT a team reads
    to choose epsilon; an actual release redraws fresh randomness at
    publish time (fresh draws are what the privacy guarantee needs —
    documented so nobody ships the audit as the release).

    Exactness: u = (hex32(md5(lang|eps)) + 0.5) / 2^32 is an exact
    double in (0,1) (never exactly 0.5: the numerator is integer+0.5,
    2^31 is not); the Laplace inverse CDF −(1/eps)·sgn(v)·ln(1−2|v|)
    evaluates ln via libm on BOTH engines (pandas-UDF ln on the
    O(cells × eps) relation — DuckDB's ln IS libm), so every output
    is one fixed IEEE chain on identical inputs.

    Scale shape: one corpus scan of ONE column to an O(|langs|) cell
    relation; the epsilon axis and the noise arithmetic run on cells
    only. The pandas-UDF boundary costs |cells × eps| rows, never a
    corpus pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    eps_arr = F.array(
        *[F.expr(f"CAST({e} AS DOUBLE)") for e in _DP_EPSILONS]
    )
    drawn = cells.select(
        "lang",
        "n_true",
        F.explode(eps_arr).alias("eps"),
    ).select(
        "lang",
        "n_true",
        "eps",
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|", F.col("lang"), F.col("eps").cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                + F.lit(0.5)
            )
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    ln = _ln_libm()
    v = F.col("u") - F.lit(0.5)
    noised = drawn.select(
        "lang",
        "n_true",
        "eps",
        (
            F.col("n_true")
            - (F.lit(1.0) / F.col("eps"))
            * F.signum(v)
            * ln(F.lit(1.0) - F.lit(2.0) * F.abs(v))
        ).alias("n_noised"),
    )
    return noised.select(
        "lang",
        "eps",
        "n_true",
        "n_noised",
        F.abs(F.col("n_noised") - F.col("n_true")).alias("abs_err"),
        (
            F.abs(F.col("n_noised") - F.col("n_true"))
            / F.col("n_true").cast("double")
        ).alias("rel_err"),
    ).orderBy("lang", "eps")


@register(
    "llm_incremental_substring_admission",
    oracle=f"""
    WITH {_sql_substr_grams()},
    tagged AS (
      SELECT doc_id, source, gh,
             CAST(substr(source, 4) AS INTEGER) AS src_num
      FROM g
    ),
    corpus AS (
      SELECT DISTINCT gh FROM tagged WHERE src_num < {_INCR_EXISTING_MAX}
    ),
    batch AS (
      SELECT doc_id, source, gh FROM tagged
      WHERE src_num >= {_INCR_EXISTING_MAX}
      GROUP BY doc_id, source, gh
    ),
    scored AS (
      SELECT b.doc_id, b.source,
             COUNT(*) AS n_anchors,
             SUM(CASE WHEN c.gh IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
      FROM batch b LEFT JOIN corpus c ON c.gh = b.gh
      GROUP BY b.doc_id, b.source
    ),
    alldocs AS (
      SELECT doc_id, source FROM documents
      WHERE CAST(substr(source, 4) AS INTEGER) >= {_INCR_EXISTING_MAX}
    )
    SELECT a.doc_id, a.source,
           CAST(COALESCE(s.n_anchors, 0) AS BIGINT) AS n_anchors,
           CAST(COALESCE(s.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(s.n_hits, 0) = 0 AS admitted
    FROM alldocs a LEFT JOIN scored s ON s.doc_id = a.doc_id
    ORDER BY a.doc_id
    """,
)
def llm_incremental_substring_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F112/J10 EXT: INCREMENTAL SUBSTRING admission — the fifth and
    final incremental-ingest geometry, completing the cross-product of
    the dedup grains with the admission shape: exact content-key
    (J10), MinHash-band (J23), SimHash-Hamming (F73), embedding-bucket
    (J35), and now the Lee-et-al exact-substring grain: a batch
    document (src10+) is admitted only when NONE of its 8-token anchor
    grams occurs anywhere in the standing corpus (src0-9) — the
    "never admit a doc sharing a >=8-token verbatim span with the
    corpus" SLA, with the per-doc anchor/hit counts that say how close
    each rejection was. Distinct anchors per doc, so a repeated span
    inside one batch doc counts once.

    Exactness: anchor keys are md5 over the same space-joined token
    windows as the rest of the family (identical construction both
    engines); counts exact int64; admitted is an integer-equality
    bool. Anchor-free docs (< 8 tokens) admit trivially with zero
    counts via the outer join to the batch roster — both engines emit
    them.

    Scale shape: the corpus side reduces to the DISTINCT anchor-key
    SET (one short column — at 100 TB this is the write-time anchor
    store F112 already mandates, ~2% of corpus bytes); the batch side
    is O(batch tokens). The join is batch-anchor x corpus-SET on the
    md5 key — each batch anchor matches AT MOST ONE set row, so there
    is no fan-out and no df cap needed (the pair-grain hazard J41
    caps simply cannot occur in the admission shape). Per-doc rollup
    is one hash agg; the batch roster join is batch-sized.
    """
    grams = _substr_gram_positions(spark, sf_dir)
    src_num = F.substring("source", 4, 10).cast("int")
    tagged = grams.select(
        "doc_id", "source", "gh", src_num.alias("src_num")
    )
    # "Anchor occurs in the standing corpus" ⟺ the gram's minimum
    # src_num over the WHOLE stream falls below the batch boundary —
    # one window aggregate over one gh exchange replaces the
    # corpus-distinct + left-join shape, which computed the gram
    # stream once per side. hit is functionally determined by gh, so
    # carrying it through the batch distinct leaves the per-doc
    # distinct-anchor counts untouched.
    wg = Window.partitionBy("gh")
    batch = (
        tagged.withColumn(
            "hit",
            (F.min("src_num").over(wg) < _INCR_EXISTING_MAX).cast("int"),
        )
        .filter(F.col("src_num") >= _INCR_EXISTING_MAX)
        .select("doc_id", "source", "gh", "hit")
        .distinct()
    )
    scored = batch.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        F.sum("hit").cast("long").alias("n_hits"),
    )
    docs = load_table(spark, sf_dir, "documents")
    roster = docs.select("doc_id", "source").filter(
        F.substring("source", 4, 10).cast("int") >= _INCR_EXISTING_MAX
    )
    return (
        roster.join(scored.drop("source"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_anchors", F.lit(0)).cast("long").alias("n_anchors"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) == 0).alias("admitted"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round-16 batch: quality-signal calibration, epoch mix scheduling, and
# the near-dup graph's partition-quality number.
# ---------------------------------------------------------------------------

#: Quality-calibration bins: stopword ratio in permille, bucketed by
#: 100 (bins 0..10); the dup label is jaccard >= _SPILL_J membership.
_CAL_BIN_PERMILLE = 100


def _sql_cal_lab_ctes() -> str:
    """dup/q/lab oracle CTEs shared by F126 (calibration curve) and
    F132 (isotonic fit of it): verified near-dup membership from the
    S24 pair store x stopword-permille quality bin. ONE definition so
    the two operators' bin axes can never silently diverge. Expects
    the ``jac`` CTE from ``_SQL_NEARDUP_PAIRS`` in scope."""
    return rf"""dup AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM jac WHERE jaccard >= {_SPILL_J}
        UNION ALL
        SELECT doc_b AS doc_id FROM jac WHERE jaccard >= {_SPILL_J}
      )
    ),
    q AS (
      SELECT doc_id,
             (1000 * len(list_filter(t, x -> x IN ({_SQL_STOPWORDS})))
              // len(t)) // {_CAL_BIN_PERMILLE} AS bin
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
      WHERE len(t) > 0
    ),
    lab AS (
      SELECT q.bin, CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
      FROM q LEFT JOIN dup ON dup.doc_id = q.doc_id
    )"""


def _quality_dup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, is_dup) per token-bearing document — the Spark twin of
    ``_sql_cal_lab_ctes``, shared by F126/F132 so the isotonic fit
    calibrates EXACTLY the relation the curve reports. Scale shape:
    the pair work is the write-time S24 store; this is O(|pairs|) for
    the label plus one tokenize pass for the bins and a key join."""
    pairs = _ngram_jaccard_pairs_stored(spark, sf_dir).filter(
        F.col("jaccard") >= F.lit(float(_SPILL_J))
    )
    dup = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup_", F.lit(1))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    )
    nstop = F.size(F.filter(F.col("t"), lambda x: x.isin(*_STOPWORDS)))
    q = (
        docs.filter(F.size("t") > 0)
        .select(
            "doc_id",
            (1000 * nstop).cast("long").alias("nstop1000"),
            F.size("t").cast("long").alias("ntok"),
        )
        .select(
            "doc_id",
            F.expr(f"(nstop1000 div ntok) div {_CAL_BIN_PERMILLE}").alias(
                "bin"
            ),
        )
    )
    return q.join(dup, "doc_id", "left").select(
        "bin", F.coalesce("is_dup_", F.lit(0)).alias("is_dup")
    )


@register(
    "llm_quality_dup_calibration",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS},
    {_sql_cal_lab_ctes()},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(is_dup) AS BIGINT) AS n_dup_all
      FROM lab
    )
    SELECT CAST(l.bin AS BIGINT) AS stopword_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(l.is_dup) AS BIGINT) AS n_dup_docs,
           CAST(SUM(l.is_dup) AS DOUBLE) / COUNT(*) AS dup_rate,
           CASE WHEN t.n_dup_all = 0 THEN NULL
                ELSE (CAST(SUM(l.is_dup) AS DOUBLE) / COUNT(*))
                     / (CAST(t.n_dup_all AS DOUBLE) / t.n_all)
           END AS lift
    FROM lab l CROSS JOIN tot t
    GROUP BY l.bin, t.n_all, t.n_dup_all
    ORDER BY stopword_bin
    """,
)
def llm_quality_dup_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F126: QUALITY-SIGNAL vs DEDUP calibration — bin documents by
    stopword ratio (the F20/U4 quality heuristic, in exact permille
    buckets of {_CAL_BIN_PERMILLE}) and report each bin's verified
    near-dup membership rate (Jaccard >= {_SPILL_J} pair incidence
    from the S24 store) plus its lift over the corpus base rate. The
    reliability read a curation pipeline needs before composing
    filters: if low-quality bins are ALSO the duplicated bins (lift >>
    1), dedup-then-filter double-counts the same removal and the
    ablation matrix (F100) overstates each stage's marginal value.

    Exactness: bins are pure integer arithmetic (permille div, no
    float ratio); counts int64; rate and lift are fixed IEEE chains
    with a NULL guard for a dup-free corpus on both engines.

    Scale shape: the pair work is the write-time S24 store; this
    query touches O(|pairs|) rows for the label, one tokenize pass
    for the bins, a key join, and an O(bins) rollup. Nothing
    all-pairs, nothing corpus-proportional after the label join.
    """
    lab = _quality_dup_labels(spark, sf_dir)
    tot = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("is_dup").cast("long").alias("n_dup_all"),
    )
    return (
        lab.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("stopword_bin"),
            "n_docs",
            "n_dup_docs",
            (
                F.col("n_dup_docs").cast("double") / F.col("n_docs")
            ).alias("dup_rate"),
            F.when(F.col("n_dup_all") == 0, F.lit(None).cast("double"))
            .otherwise(
                (F.col("n_dup_docs").cast("double") / F.col("n_docs"))
                / (F.col("n_dup_all").cast("double") / F.col("n_all"))
            )
            .alias("lift"),
        )
        .orderBy("stopword_bin")
    )


#: Epoch-schedule geometry: temperature-0.5 source weights (milli-
#: quantized sqrt), total budget = corpus tokens, split over 4 epochs
#: by the integer Bresenham rule.
_MIX_EPOCHS = 4


@register(
    "llm_epoch_mix_schedule",
    oracle=f"""
    WITH src AS (
      SELECT source, CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tok
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_tok,
             CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1000) AS BIGINT)
               AS w_milli
      FROM src
    ),
    tot AS (
      SELECT CAST(SUM(n_tok) AS BIGINT) AS budget,
             CAST(SUM(w_milli) AS BIGINT) AS w_all
      FROM w
    ),
    fr AS (
      SELECT w.source, w.n_tok, t.budget,
             (t.budget * w.w_milli) // t.w_all AS base,
             (t.budget * w.w_milli) % t.w_all AS rem
      FROM w CROSS JOIN tot t
    ),
    rk AS (
      SELECT source, n_tok, budget, base,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk,
             budget - SUM(base) OVER () AS leftover
      FROM fr
    ),
    alloc AS (
      SELECT source, n_tok,
             base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS b
      FROM rk
    )
    SELECT a.source, CAST(e.epoch AS BIGINT) AS epoch,
           CAST((a.b * (e.epoch + 1)) // {_MIX_EPOCHS}
                - (a.b * e.epoch) // {_MIX_EPOCHS} AS BIGINT)
             AS tokens_planned,
           CAST(a.n_tok AS BIGINT) AS tokens_source,
           CAST(a.b AS BIGINT) AS tokens_alloc,
           CAST(a.b AS DOUBLE) / a.n_tok AS upsample_factor
    FROM alloc a
    CROSS JOIN (SELECT unnest(range({_MIX_EPOCHS})) AS epoch) e
    ORDER BY a.source, epoch
    """,
)
def llm_epoch_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F127: EPOCH MIX SCHEDULE — the integer training-run planner
    that closes the mixture family: temperature-0.5 source weights
    (the F69 rebalancing rule: w ∝ sqrt(tokens), flattening the
    source skew), a total budget equal to the corpus token count
    allocated across sources by LARGEST REMAINDER (the F99 integer
    discipline — Σ allocations == budget EXACTLY), then each source's
    allocation spread over {_MIX_EPOCHS} epochs by the Bresenham rule
    (tokens(e) = floor(b·(e+1)/E) − floor(b·e/E), so epoch totals
    differ by at most 1 token and Σ epochs == allocation exactly).
    This is the artifact a dataloader consumes; the conservation
    identities are what make it trustworthy.

    Exactness: weights are MILLI-quantized sqrt values (floor ×1000 —
    int64), so shares, remainders, and every allocation are pure
    integer arithmetic; the only doubles are sqrt (IEEE-exact per
    engine and correctly rounded) and the final upsample_factor
    divide.

    Scale shape: one tokenize scan → O(sources) agg; everything after
    is arithmetic on the O(sources × epochs) relation. The budget ×
    weight product stays under 2^63 through the 100× probe by the
    milli (not micro) quantization — envelope documented here.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(_tokens())).cast("long").alias("n_tok")
    )
    w = src.select(
        "source",
        "n_tok",
        F.floor(F.sqrt(F.col("n_tok").cast("double")) * 1000)
        .cast("long")
        .alias("w_milli"),
    )
    tot = w.agg(
        F.sum("n_tok").cast("long").alias("budget"),
        F.sum("w_milli").cast("long").alias("w_all"),
    )
    fr = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tok",
        "budget",
        F.expr("(budget * w_milli) div w_all").alias("base"),
        F.expr("(budget * w_milli) % w_all").alias("rem"),
    )
    w_rk = Window.orderBy(F.col("rem").desc(), F.col("source"))
    w_all_rows = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = fr.select(
        "source",
        "n_tok",
        "base",
        F.row_number().over(w_rk).alias("rnk"),
        (F.col("budget") - F.sum("base").over(w_all_rows)).alias(
            "leftover"
        ),
    )
    alloc = rk.select(
        "source",
        "n_tok",
        (
            F.col("base")
            + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("b"),
    )
    epochs = F.array(*[F.lit(e).cast("long") for e in range(_MIX_EPOCHS)])
    return (
        alloc.select("source", "n_tok", "b", F.explode(epochs).alias("epoch"))
        .select(
            "source",
            "epoch",
            (
                F.expr(f"(b * (epoch + 1)) div {_MIX_EPOCHS}")
                - F.expr(f"(b * epoch) div {_MIX_EPOCHS}")
            )
            .cast("long")
            .alias("tokens_planned"),
            F.col("n_tok").alias("tokens_source"),
            F.col("b").cast("long").alias("tokens_alloc"),
            (F.col("b").cast("double") / F.col("n_tok")).alias(
                "upsample_factor"
            ),
        )
        .orderBy("source", "epoch")
    )


@register(
    "llm_neardup_source_modularity",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS},
    e AS (
      SELECT da.source AS sa, db.source AS sb
      FROM jac j
      JOIN documents da ON da.doc_id = j.doc_a
      JOIN documents db ON db.doc_id = j.doc_b
      WHERE j.jaccard >= {_SPILL_J}
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    srcs AS (SELECT DISTINCT source FROM documents),
    per AS (
      SELECT s.source,
             CAST(COALESCE(SUM(CASE WHEN e.sa = s.source
                                     AND e.sb = s.source
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_within,
             CAST(COALESCE(SUM((CASE WHEN e.sa = s.source
                                     THEN 1 ELSE 0 END)
                             + (CASE WHEN e.sb = s.source
                                     THEN 1 ELSE 0 END)), 0) AS BIGINT)
               AS degree_sum
      FROM srcs s LEFT JOIN e ON TRUE
      GROUP BY s.source
    ),
    terms AS (
      SELECT source, n_within, degree_sum,
             CAST(floor((CAST(n_within AS DOUBLE) / m.m
                   - (CAST(degree_sum AS DOUBLE) / (2 * m.m))
                     * (CAST(degree_sum AS DOUBLE) / (2 * m.m)))
                   * 1000000000) AS BIGINT) AS t_nano
      FROM per CROSS JOIN m
    )
    SELECT t.source, t.n_within AS n_within_edges, t.degree_sum,
           CAST(t.n_within AS DOUBLE) / m.m AS frac_within,
           (CAST(t.degree_sum AS DOUBLE) / (2 * m.m))
             * (CAST(t.degree_sum AS DOUBLE) / (2 * m.m))
             AS expected_frac,
           CAST((SELECT SUM(t_nano) FROM terms) AS DOUBLE) / 1000000000
             AS modularity
    FROM terms t CROSS JOIN m
    ORDER BY t.source
    """,
)
def llm_neardup_source_modularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J43: NEWMAN MODULARITY of the source partition over the
    verified near-dup graph — one number for "do near-duplicates stay
    within their source?": Q = Σ_c (e_c/m − (d_c/2m)²) over sources,
    where e_c is within-source edge count and d_c the source's degree
    mass. Q near 0 means sources mix like a random graph (per-source
    dedup forfeits nothing the spillover audit F117 wouldn't price);
    Q near its maximum means near-dups are source-local and the
    cheap shard-by-source dedup is safe. The single-number complement
    of the cross-source matrix (J36).

    Exactness: edge and degree counts are exact int64 off the S24
    verified-pair store; each source's modularity term is a fixed
    IEEE chain NANO-quantized (floor ×1e9 → int64) before the
    cross-source sum, so Σ is order-free integer addition — the
    micro-nat discipline at graph scale.

    Scale shape: O(|pairs|) store scan + two broadcast doc→source
    lookups; sources axis via a left join so zero-degree sources
    appear with exact zeros; everything after is O(sources).
    """
    pairs = _ngram_jaccard_pairs_stored(spark, sf_dir).filter(
        F.col("jaccard") >= F.lit(float(_SPILL_J))
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select("sa", "sb")
    )
    m = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    srcs = src.select("source").distinct()
    per = (
        srcs.join(e, F.lit(True), "left")
        .groupBy("source")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("sa") == F.col("source"))
                        & (F.col("sb") == F.col("source")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_within"),
            F.coalesce(
                F.sum(
                    F.when(F.col("sa") == F.col("source"), 1).otherwise(0)
                    + F.when(F.col("sb") == F.col("source"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("degree_sum"),
        )
    )
    md = F.col("m")
    exp_half = F.col("degree_sum").cast("double") / (2 * md)
    terms = per.crossJoin(F.broadcast(m)).select(
        "source",
        "n_within",
        "degree_sum",
        "m",
        F.floor(
            (
                F.col("n_within").cast("double") / md
                - exp_half * exp_half
            )
            * F.lit(1000000000)
        )
        .cast("long")
        .alias("t_nano"),
    )
    q = terms.agg(F.sum("t_nano").alias("q_nano"))
    return (
        terms.crossJoin(F.broadcast(q))
        .select(
            "source",
            F.col("n_within").alias("n_within_edges"),
            "degree_sum",
            (F.col("n_within").cast("double") / md).alias("frac_within"),
            (exp_half * exp_half).alias("expected_frac"),
            (F.col("q_nano").cast("double") / F.lit(1000000000)).alias(
                "modularity"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-17 batch: content-key engineering audits (hash width, bloom
# sizing), data-valuation (leave-one-source-out), and the top principal
# component via power iteration.
# ---------------------------------------------------------------------------

#: Truncated-hash widths (bits) for the collision audit — the widths an
#: engineer is tempted to shrink a 128-bit content key to.
_HASH_AUDIT_BITS = (16, 20, 24)


@register(
    "llm_hash_collision_audit",
    oracle=f"""
    WITH ct AS (SELECT DISTINCT md5(text) AS h FROM documents),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_contents FROM ct),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    bx AS (
      {" UNION ALL ".join(
        f'''SELECT {b} AS bits,
               CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % {1 << b} AS bkt
            FROM ct'''
        for b in _HASH_AUDIT_BITS
      )}
    ),
    coll AS (
      SELECT bits, CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS observed_pairs
      FROM (SELECT bits, bkt, CAST(COUNT(*) AS BIGINT) AS c
            FROM bx GROUP BY bits, bkt)
      GROUP BY bits
    )
    SELECT CAST(coll.bits AS BIGINT) AS bits, nd.n_docs, d.n_contents,
           coll.observed_pairs,
           (CAST(d.n_contents AS DOUBLE) * (d.n_contents - 1) / 2)
             / CAST(1 << coll.bits AS BIGINT) AS expected_pairs
    FROM coll CROSS JOIN d CROSS JOIN nd ORDER BY bits
    """,
)
def llm_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F129: CONTENT-KEY WIDTH audit — how many DISTINCT-content pairs
    collide when the 128-bit content key is truncated to b bits, vs
    the birthday-bound expectation C(D,2)/2^b. The number that decides
    whether a narrower (cheaper) key is safe for exact dedup at the
    target corpus size: at 100 TB (10⁹ documents) a 32-bit key expects
    ~10⁸ false merges and a 64-bit key ~0.03 — this audit MEASURES the
    curve on the corpus's own keys instead of trusting the formula.

    Exactness: buckets are integer prefix-bit arithmetic on the md5
    hex (conv/hex-cast, identical on both engines); observed collision
    pairs are exact integer ΣC(c,2) over distinct contents; expectation
    is one IEEE chain on exact counts.

    Scale shape: one documents scan → hash agg to distinct content
    keys → a |bits|-way projection fan-out → hash agg on (bits,
    bucket) with map-side combine → O(bits) rollup. Nothing pairwise:
    collisions are counted from bucket multiplicities, never
    materialized as pairs.
    """
    ct = pin(
        load_table(spark, sf_dir, "documents")
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    d = ct.agg(F.count(F.lit(1)).cast("long").alias("n_contents"))
    nd = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    h32 = F.conv(F.substring("h", 1, 8), 16, 10).cast("long")
    bx = ct.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bits"),
                        F.pmod(h32, F.lit(1 << b)).alias("bkt"),
                    )
                    for b in _HASH_AUDIT_BITS
                ]
            )
        ).alias("e")
    ).select("e.bits", "e.bkt")
    coll = (
        bx.groupBy("bits", "bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("bits")
        .agg(
            F.sum(F.expr("c * (c - 1) div 2"))
            .cast("long")
            .alias("observed_pairs")
        )
    )
    return (
        coll.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("bits").cast("long").alias("bits"),
            "n_docs",
            "n_contents",
            "observed_pairs",
            (
                F.col("n_contents").cast("double")
                * (F.col("n_contents") - 1)
                / F.lit(2)
                / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bits AS INT))")
            ).alias("expected_pairs"),
        )
        .orderBy("bits")
    )


#: Per-shard bloom-filter bit budget for the sizing audit (bits), and
#: the hash-count cap (real filters stop near k=16: beyond it the fpp
#: gain is negligible and the per-probe cost linear in k).
_BLOOM_M_BITS = 1 << 18
_BLOOM_K_MAX = 16


@register(
    "layout_bloom_sizing_audit",
    oracle=f"""
    WITH k AS (
      SELECT source, CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_keys
      FROM documents GROUP BY source
    )
    SELECT source, n_keys,
           CAST({_BLOOM_M_BITS} AS DOUBLE) / n_keys AS bits_per_key,
           LEAST({_BLOOM_K_MAX}, GREATEST(1, CAST(floor(ln(2)
             * (CAST({_BLOOM_M_BITS} AS DOUBLE) / n_keys)) AS BIGINT)))
             AS k_hashes,
           pow(1 - exp(-(LEAST({_BLOOM_K_MAX}, GREATEST(1, CAST(floor(ln(2)
                 * (CAST({_BLOOM_M_BITS} AS DOUBLE) / n_keys)) AS BIGINT)))
               * CAST(n_keys AS DOUBLE)) / {_BLOOM_M_BITS}),
               LEAST({_BLOOM_K_MAX}, GREATEST(1, CAST(floor(ln(2)
                 * (CAST({_BLOOM_M_BITS} AS DOUBLE) / n_keys)) AS BIGINT))))
             AS fpp
    FROM k ORDER BY source
    """,
)
def layout_bloom_sizing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F130: PER-SHARD BLOOM-FILTER SIZING audit — for a fixed
    {_BLOOM_M_BITS}-bit filter budget per source shard, the realized
    bits-per-key, the hash count k = min({_BLOOM_K_MAX},
    floor(ln2·m/n)) (optimal-k capped at the practical probe-cost
    ceiling), and the
    resulting false-positive probability (1 − e^(−kn/m))^k from each
    shard's EXACT distinct-key count. This is the sizing table the
    incremental-admission family (J10/J23/J34) needs before shipping
    bloom side-filters to 1000 executors: a shard whose n_keys
    outgrew its budget shows up here as an fpp cliff long before the
    dedup quality regresses.

    Exactness: distinct-key counts are exact (full md5 grouping, no
    sketch); k is a floor of a shared double chain; fpp is evaluated
    by C-library exp/pow on BOTH engines (an Arrow-batched kernel on
    the O(sources) relation — JVM Math.exp/pow can be 1 ulp off libm,
    the `_ln_libm` finding applied to exp/pow).

    Scale shape: one documents scan → per-(source, key) hash agg with
    map-side combine → O(sources) math. The audit never touches
    payload bytes beyond the hash.
    """
    import math

    @F.pandas_udf("double")
    def _fpp(n: pd.Series) -> pd.Series:
        def one(nk: float) -> float:
            k = min(
                _BLOOM_K_MAX,
                max(1, math.floor(math.log(2) * (_BLOOM_M_BITS / nk))),
            )
            return math.pow(
                1 - math.exp(-(k * nk) / _BLOOM_M_BITS), k
            )
        return n.map(one)

    @F.pandas_udf("long")
    def _kh(n: pd.Series) -> pd.Series:
        return n.map(
            lambda nk: min(
                _BLOOM_K_MAX,
                max(1, math.floor(math.log(2) * (_BLOOM_M_BITS / nk))),
            )
        )

    k = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.countDistinct(F.md5("text")).cast("long").alias("n_keys"))
    )
    nd = F.col("n_keys").cast("double")
    return k.select(
        "source",
        "n_keys",
        (F.lit(float(_BLOOM_M_BITS)) / F.col("n_keys")).alias(
            "bits_per_key"
        ),
        _kh(nd).alias("k_hashes"),
        _fpp(nd).alias("fpp"),
    ).orderBy("source")


@register(
    "llm_source_loo_quality_shift",
    oracle=f"""
    WITH q AS (
      SELECT source,
             1000 * len(list_filter(t, x -> x IN ({_SQL_STOPWORDS})))
               // len(t) AS q_permille
      FROM (SELECT source, {_SQL_TOKENS} AS t FROM documents)
    ),
    s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(q_permille) AS BIGINT) AS t_s
      FROM q GROUP BY source
    ),
    g AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n, CAST(SUM(t_s) AS BIGINT) AS t
      FROM s
    )
    SELECT s.source, s.n_s AS n_docs,
           CAST(s.t_s AS DOUBLE) / s.n_s AS mean_quality,
           CAST(g.t AS DOUBLE) / g.n AS corpus_mean,
           CAST(g.t - s.t_s AS DOUBLE) / (g.n - s.n_s) AS loo_mean,
           CAST(g.t AS DOUBLE) / g.n
             - CAST(g.t - s.t_s AS DOUBLE) / (g.n - s.n_s) AS influence
    FROM s CROSS JOIN g ORDER BY s.source
    """,
)
def llm_source_loo_quality_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F131: LEAVE-ONE-SOURCE-OUT data valuation (quality lens) — each
    source's INFLUENCE on the corpus-mean quality signal (the F20/U4
    stopword-ratio heuristic in exact permille): corpus mean minus the
    mean with that source removed. The cheapest member of the
    data-valuation family (Shapley's first-order term): a source with
    large negative influence is dragging the corpus down and is the
    first candidate for the blocklist (F70) or down-weighting (F69).

    Exactness: per-doc quality is exact integer permille (the F126
    binning arithmetic); all means derive from TWO integer totals per
    source via subtraction — the LOO recompute is algebra, not a
    second pass; each mean is one IEEE chain.

    Scale shape: one documents scan → O(sources) hash agg → O(sources)
    algebra against the 1-row global total. The LOO sweep costs one
    subtraction per source, never |sources| corpus passes.
    """
    q = load_table(spark, sf_dir, "documents").select(
        "source", _tokens().alias("t")
    )
    nstop = F.size(F.filter(F.col("t"), lambda x: x.isin(*_STOPWORDS)))
    qp = (
        q.select(
            "source",
            (1000 * nstop).cast("long").alias("ns1000"),
            F.size("t").cast("long").alias("nt"),
        )
        .select("source", F.expr("ns1000 div nt").alias("q_permille"))
    )
    s = qp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("q_permille").cast("long").alias("t_s"),
    )
    g = s.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.sum("t_s").cast("long").alias("t"),
    )
    corpus_mean = F.col("t").cast("double") / F.col("n")
    loo_mean = (F.col("t") - F.col("t_s")).cast("double") / (
        F.col("n") - F.col("n_s")
    )
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            (F.col("t_s").cast("double") / F.col("n_s")).alias(
                "mean_quality"
            ),
            corpus_mean.alias("corpus_mean"),
            loo_mean.alias("loo_mean"),
            (corpus_mean - loo_mean).alias("influence"),
        )
        .orderBy("source")
    )


#: Power iteration: convergence tolerance / iteration cap and the
#: report size (top dimensions by |loading|).
_PC_TOL = 1e-14
_PC_MAX_ITERS = 5000
_PC_TOPK = 16


@register("llm_embedding_top_pc_power", oracle=None)
def llm_embedding_top_pc_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U14: TOP PRINCIPAL COMPONENT of the embedding corpus via POWER
    ITERATION on the exact-integer covariance moments — the direction
    of maximum variance, the one-vector summary behind PCA whitening
    decisions, Matryoshka truncation audits (F68), and "is there a
    dominant axis?" QA before ANN indexing (a dominant axis distorts
    IVF cell balance, F91).

    Rows-only by necessity (the F58 carve-out): an eigenvector is not
    SQL-expressible — correctness is pinned by a full numpy
    eigendecomposition cross-check (tests/test_round17_ops_invariants,
    |cos(v_power, v_eigh)| ≥ 1−1e-9) plus determinism across runs.

    Scale shape: moments come from the shared exact-int64 Arrow matmul
    (``gram_moment_relations`` — the F57/F58 kernel, one corpus pass,
    O(batches·D²) shuffle rows); the driver collects only the O(D²)
    aggregated moment rows (D=64 ⇒ 2,144 — bounded regardless of
    corpus size) and iterates deterministically from the fixed
    all-ones start to a {_PC_TOL} step tolerance (≤ {_PC_MAX_ITERS}
    steps — the testdata spectrum converges in a few hundred): O(D²)
    flops per step, pure driver math, corpus never rescanned.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    prod, sums = gram_moment_relations(emb)
    mom = {(r["i"], r["j"]): r["pp"] for r in prod.collect()}
    svec = {r["i"]: (r["s"], r["n"]) for r in sums.collect()}
    d = len(svec)
    n = svec[0][1]
    s = np.array([svec[i][0] for i in range(d)], dtype=np.float64)
    c = np.zeros((d, d), dtype=np.float64)
    for (i, j), pp in mom.items():
        v = (pp / n - (s[i] * s[j]) / (n * n)) / 1e12
        c[i, j] = v
        c[j, i] = v
    v = np.ones(d, dtype=np.float64) / np.sqrt(d)
    for _ in range(_PC_MAX_ITERS):
        w = c @ v
        nrm = float(np.linalg.norm(w))
        if nrm == 0.0:
            break
        w = w / nrm
        step = float(np.linalg.norm(w - v))
        v = w
        if step < _PC_TOL:
            break
    lam = float(v @ (c @ v))
    # sign convention: largest-|loading| dimension is positive
    pivot = int(np.argmax(np.abs(v)))
    if v[pivot] < 0:
        v = -v
    total_var = float(np.trace(c))
    rows = [
        (int(i), float(v[i]), lam, lam / total_var)
        for i in np.argsort(-np.abs(v))[:_PC_TOPK]
    ]
    return spark.createDataFrame(
        rows, "dim int, loading double, eigenvalue double, var_share double"
    ).orderBy(F.desc(F.abs(F.col("loading"))), "dim")


# ---------------------------------------------------------------------------
# Round-17 session-2 batch: isotonic calibration, content-defined chunking,
# retrieval evaluation.
# ---------------------------------------------------------------------------

#: Quantization scale for the isotonic fit's order-unspecified SSE sums
#: (the r16 quantized-sum discipline, as in A83's pico-nat MI terms).
_ISO_SCALE = "1000000000000.0"


@register(
    "llm_isotonic_quality_calibration",
    oracle=rf"""
    WITH {_SQL_NEARDUP_PAIRS},
    {_sql_cal_lab_ctes()},
    b AS (
      SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(is_dup) AS BIGINT) AS d
      FROM lab GROUP BY bin
    ),
    pr AS (
      SELECT j.bin AS jb, k.bin AS kb FROM b j JOIN b k ON j.bin <= k.bin
    ),
    seg AS (
      SELECT pr.jb, pr.kb,
             CAST(SUM(x.d) AS DOUBLE) / CAST(SUM(x.n) AS DOUBLE) AS avgr
      FROM pr JOIN b x ON x.bin BETWEEN pr.jb AND pr.kb
      GROUP BY pr.jb, pr.kb
    ),
    mm AS (
      SELECT i.bin, s.jb, MIN(s.avgr) AS mn, MAX(s.avgr) AS mx
      FROM b i JOIN seg s ON s.jb <= i.bin AND s.kb >= i.bin
      GROUP BY i.bin, s.jb
    ),
    iso AS (
      SELECT bin, MAX(mn) AS iso_incr, MIN(mx) AS iso_decr
      FROM mm GROUP BY bin
    ),
    fit AS (
      SELECT b.bin, b.n, b.d,
             CAST(b.d AS DOUBLE) / CAST(b.n AS DOUBLE) AS raw_rate,
             i.iso_incr, i.iso_decr
      FROM b JOIN iso i ON i.bin = b.bin
    ),
    sse AS (
      SELECT
        CAST(SUM(CAST(floor(((raw_rate - iso_incr) * (raw_rate - iso_incr)
              * CAST(n AS DOUBLE)) * {_ISO_SCALE}) AS BIGINT)) AS BIGINT)
          AS qi,
        CAST(SUM(CAST(floor(((raw_rate - iso_decr) * (raw_rate - iso_decr)
              * CAST(n AS DOUBLE)) * {_ISO_SCALE}) AS BIGINT)) AS BIGINT)
          AS qd
      FROM fit
    )
    SELECT f.bin AS stopword_bin, f.n AS n_docs, f.d AS n_dup_docs,
           f.raw_rate, f.iso_incr, f.iso_decr,
           CAST(s.qi AS DOUBLE) / {_ISO_SCALE} AS sse_incr,
           CAST(s.qd AS DOUBLE) / {_ISO_SCALE} AS sse_decr
    FROM fit f CROSS JOIN sse s
    ORDER BY stopword_bin
    """,
)
def llm_isotonic_quality_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """F132: ISOTONIC (PAVA) CALIBRATION of the quality->dup-rate curve
    — fit the monotone regression of verified near-dup incidence onto
    the stopword-ratio quality bins (the F126 relation), in BOTH
    directions (non-decreasing and non-increasing), with each fit's
    weighted SSE so the caller reads off which monotone story the
    corpus actually supports. F126 reports the raw empirical curve;
    this is the step that turns it into a usable monotone calibrator
    (the standard prerequisite before thresholding a quality score as
    a dup-risk proxy: an uncalibrated, non-monotone curve inverts
    decisions between adjacent bins).

    Isotonic fits use the MINIMAX characterization of weighted-L2
    isotonic regression — fit_i = max_{{j<=i}} min_{{k>=i}} avg(y[j..k])
    (mirrored for the antitonic fit) — which makes PAVA, an inherently
    sequential pooling algorithm, a pure JOIN+MIN/MAX program over the
    bounded bin axis: every segment average is one int/int double
    division (exact int64 dup/doc sums), min/max select among
    identical doubles, so both fits are bitwise cross-engine. The two
    SSE totals (order-unspecified sums) follow the quantized-sum
    discipline. A pure-Python pool-adjacent-violators twin pins the
    minimax formula against the textbook algorithm in pytest.

    Scale shape: corpus work = the F126 label join (S24 store pairs +
    one tokenize pass); the isotonic program is O(B^3) on the B<=11
    permille-bucket axis (~1.3k bounded-join rows) — constant in
    corpus size. At a finer score granularity the same minimax program
    runs on any bounded bucket axis; PAVA's linear scan is the driver-
    side alternative only when B stops being bounded.
    """
    lab = _quality_dup_labels(spark, sf_dir)
    # feeds 3 joins below
    b = pin(
        lab.groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("is_dup").cast("long").alias("d"),
        )
    )
    pr = (
        b.select(F.col("bin").alias("jb"))
        .join(b.select(F.col("bin").alias("kb")), F.col("jb") <= F.col("kb"))
    )
    seg = (
        pr.join(
            b.select(
                F.col("bin").alias("xb"),
                F.col("n").alias("xn"),
                F.col("d").alias("xd"),
            ),
            (F.col("xb") >= F.col("jb")) & (F.col("xb") <= F.col("kb")),
        )
        .groupBy("jb", "kb")
        .agg(
            (
                F.sum("xd").cast("double") / F.sum("xn").cast("double")
            ).alias("avgr")
        )
    )
    mm = (
        b.select(F.col("bin").alias("ib"))
        .join(
            seg,
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("ib", "jb")
        .agg(F.min("avgr").alias("mn"), F.max("avgr").alias("mx"))
    )
    iso = mm.groupBy("ib").agg(
        F.max("mn").alias("iso_incr"), F.min("mx").alias("iso_decr")
    )
    fit = b.join(iso, b.bin == iso.ib).select(
        "bin",
        "n",
        "d",
        (F.col("d").cast("double") / F.col("n").cast("double")).alias(
            "raw_rate"
        ),
        "iso_incr",
        "iso_decr",
    )
    scale = float(_ISO_SCALE)
    sse = fit.agg(
        F.sum(
            F.floor(
                (
                    (F.col("raw_rate") - F.col("iso_incr"))
                    * (F.col("raw_rate") - F.col("iso_incr"))
                    * F.col("n").cast("double")
                )
                * F.lit(scale)
            ).cast("long")
        )
        .cast("long")
        .alias("qi"),
        F.sum(
            F.floor(
                (
                    (F.col("raw_rate") - F.col("iso_decr"))
                    * (F.col("raw_rate") - F.col("iso_decr"))
                    * F.col("n").cast("double")
                )
                * F.lit(scale)
            ).cast("long")
        )
        .cast("long")
        .alias("qd"),
    )
    return (
        fit.crossJoin(F.broadcast(sse))
        .select(
            F.col("bin").alias("stopword_bin"),
            F.col("n").alias("n_docs"),
            F.col("d").alias("n_dup_docs"),
            "raw_rate",
            "iso_incr",
            "iso_decr",
            (F.col("qi").cast("double") / F.lit(scale)).alias("sse_incr"),
            (F.col("qd").cast("double") / F.lit(scale)).alias("sse_decr"),
        )
        .orderBy("stopword_bin")
    )


#: Content-defined-chunking geometry: boundary window (chars), boundary
#: modulus (expected chunk length ~ _CDC_MOD chars), and the per-doc
#: text cap that keeps the position fan-out bounded per document.
_CDC_W = 8
_CDC_MOD = 64
_CDC_CAP = 2048


@register(
    "llm_cdc_chunk_dedup",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, substr(text, 1, {_CDC_CAP}) AS s,
             CAST(length(substr(text, 1, {_CDC_CAP})) AS BIGINT) AS len
      FROM documents
    ),
    px AS (
      SELECT doc_id, s,
             unnest(generate_series({_CDC_W}, len)) AS pos
      FROM s WHERE len >= {_CDC_W}
    ),
    cut AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos
      FROM px
      WHERE CAST(('0x' || substr(md5(substr(px.s, CAST(px.pos AS INT)
                    - {_CDC_W} + 1, {_CDC_W})), 1, 8)) AS BIGINT)
            % {_CDC_MOD} = 0
      UNION
      SELECT doc_id, len AS pos FROM s WHERE len >= 1
    ),
    ch AS (
      SELECT c.doc_id, s.source,
             COALESCE(LAG(c.pos) OVER (PARTITION BY c.doc_id
                                       ORDER BY c.pos), 0) + 1 AS a,
             c.pos AS b
      FROM cut c JOIN s ON s.doc_id = c.doc_id
    ),
    chunks AS (
      SELECT ch.doc_id, ch.source,
             CAST(ch.b - ch.a + 1 AS BIGINT) AS clen,
             md5(substr(s.s, CAST(ch.a AS INT),
                        CAST(ch.b - ch.a + 1 AS INT))) AS h
      FROM ch JOIN s ON s.doc_id = ch.doc_id
    ),
    freq AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM chunks GROUP BY h
    )
    SELECT k.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT k.h) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(k.clen) AS BIGINT) AS n_chars,
           CAST(SUM(CASE WHEN f.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN f.c >= 2 THEN k.clen ELSE 0 END) AS BIGINT)
             AS dup_char_mass,
           CAST(SUM(CASE WHEN f.c >= 2 THEN k.clen ELSE 0 END) AS DOUBLE)
             / CAST(SUM(k.clen) AS DOUBLE) AS dup_char_ratio,
           CAST(SUM(k.clen) AS DOUBLE) / COUNT(*) AS avg_chunk_len
    FROM chunks k JOIN freq f ON f.h = k.h
    GROUP BY k.source
    ORDER BY k.source
    """,
)
def llm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F133: CONTENT-DEFINED CHUNKING dedup audit — split every
    document at positions where the hash of the trailing {_CDC_W}-char
    window is 0 mod {_CDC_MOD} (expected chunk ~{_CDC_MOD} chars), key
    each chunk by its content hash, and report per source how much
    chunk mass is duplicated ACROSS the corpus. The storage-dedup
    grain the family lacked: exact dedup (A2) needs identical whole
    documents, the substring family (F112-F125) needs aligned token
    runs — CDC boundaries are content-anchored, so a one-char edit
    reshifts only the chunk it lands in and every other chunk still
    dedups (the rsync/LBFS/backup-store trick, applied to corpus
    storage sizing).

    Boundary rule: pure per-position predicate (hash of the fixed
    trailing window), deliberately WITHOUT the sequential min/max
    chunk-length clamps of production CDC — the clamp makes boundary
    acceptance depend on the previous accepted boundary (inherently
    serial); the unclamped Gear-style rule is embarrassingly parallel
    and keeps the oracle declarative. The {_CDC_W}-char md5 window is
    the bitwise-portable stand-in for a Gear rolling hash: same
    boundary semantics, O({_CDC_W}) per position instead of O(1) — a
    documented constant-factor trade for engine-native vectorization.

    Exactness: boundaries/chunks are integer position arithmetic on
    ASCII text (capped at {_CDC_CAP} chars/doc); chunk keys are md5
    hex (identical both engines); all masses exact int64; the two
    ratios one division each.

    Scale shape: the position fan-out is O(total chars) rows with an
    8-char hash each — linear, partition-local, no shuffle until the
    per-doc boundary window (keyed on doc_id, uniform). The corpus
    chunk-frequency agg keys on the uniform content hash (map-side
    combine; skew-immune by construction). Chunk text never moves:
    the frequency join carries only (hash, len).
    """
    s = pin(
        fan_out_if_narrow(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", F.substring("text", 1, _CDC_CAP).alias("s")
            )
        )
        .withColumn("len", F.length("s").cast("long"))
    )
    cut_hash = (
        fan_out_if_narrow(s)
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.col("len") >= _CDC_W,
                    F.sequence(F.lit(_CDC_W), F.col("len").cast("int")),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
            "s",
        )
        .filter(
            F.conv(
                F.substring(
                    F.md5(
                        F.expr(
                            f"substr(s, pos - {_CDC_W} + 1, {_CDC_W})"
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CDC_MOD
            == 0
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"))
    )
    cut = cut_hash.unionByName(
        s.filter(F.col("len") >= 1).select(
            "doc_id", F.col("len").alias("pos")
        )
    ).distinct()
    ch = cut.withColumn(
        "a",
        F.coalesce(
            F.lag("pos").over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
            F.lit(0).cast("long"),
        )
        + 1,
    ).withColumnRenamed("pos", "b")
    chunks = ch.join(s, "doc_id").select(
        "doc_id",
        "source",
        (F.col("b") - F.col("a") + 1).cast("long").alias("clen"),
        F.md5(
            F.expr("substr(s, CAST(a AS INT), CAST(b - a + 1 AS INT))")
        ).alias("h"),
    )
    # Corpus chunk frequency as a count-over-window on the content
    # hash: one exchange on the uniform key, and the chunk pipeline
    # (cut fan-out + boundary window + slice join) is computed ONCE —
    # the former frequency agg + join-back re-ran it per side.
    counted = chunks.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        counted
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("h").cast("long").alias("n_distinct_chunks"),
            F.sum("clen").cast("long").alias("n_chars"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("c") >= 2, F.col("clen")).otherwise(0))
            .cast("long")
            .alias("dup_char_mass"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct_chunks",
            "n_chars",
            "n_dup_chunks",
            "dup_char_mass",
            (
                F.col("dup_char_mass").cast("double")
                / F.col("n_chars").cast("double")
            ).alias("dup_char_ratio"),
            (
                F.col("n_chars").cast("double") / F.col("n_chunks")
            ).alias("avg_chunk_len"),
        )
        .orderBy("source")
    )


#: Retrieval-evaluation geometry: a FIXED query panel (constant at
#: every scale — the probe cost is Q*N with Q pinned), cutoff k=10,
#: and nano-quantized integer DCG weights round(1e9/log2(i+1)) so DCG
#: is an exact integer sum (the discount table is part of the
#: operator's contract; both engines read the same literals).
_RETR_QUERY_IDS = (7, 13, 23, 31, 43)
_RETR_K = 10
_DCG_W = (
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
)
_RETR_IDCG = sum((_RETR_K + 1 - j) * _DCG_W[j - 1]
                 for j in range(1, _RETR_K + 1))


@register(
    "llm_retrieval_eval_report",
    oracle=rf"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe,
             list_transform(embedding,
               v -> {_SQL_ISCALE.format(v="v")}) AS qx
      FROM embeddings
      WHERE vec_id IN ({", ".join(str(i) for i in _RETR_QUERY_IDS)})
    ),
    cand AS (
      SELECT q.qid, e.vec_id AS vid,
             CAST({_sql_int_dot("e.embedding", "q.qe")} AS DOUBLE)
               / (sqrt(CAST({_sql_int_dot("e.embedding", "e.embedding")}
                       AS DOUBLE))
                  * sqrt(CAST({_sql_int_dot("q.qe", "q.qe")} AS DOUBLE)))
               AS cosine,
             CAST(list_aggregate(list_transform(
                    list_zip(list_transform(e.embedding,
                               v -> {_SQL_ISCALE.format(v="v")}), q.qx),
                    p -> CASE WHEN (p[1] >= 0) <> (p[2] >= 0)
                              THEN 1 ELSE 0 END), 'sum') AS BIGINT)
               AS hamming
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    truth AS (
      SELECT qid, vid,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cosine DESC, vid) AS BIGINT) AS truth_rank
      FROM cand QUALIFY truth_rank <= {_RETR_K}
    ),
    sysr AS (
      SELECT qid, vid,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY hamming, vid) AS BIGINT) AS sys_rank
      FROM cand QUALIFY sys_rank <= {_RETR_K}
    ),
    jn AS (
      SELECT s.qid, s.sys_rank,
             CASE WHEN t.truth_rank IS NULL THEN 0
                  ELSE {_RETR_K} + 1 - t.truth_rank END AS rel,
             ([{", ".join(str(w) for w in _DCG_W)}])[s.sys_rank] AS w
      FROM sysr s LEFT JOIN truth t
        ON t.qid = s.qid AND t.vid = s.vid
    ),
    nc AS (SELECT CAST(COUNT(*) - 1 AS BIGINT) AS n_candidates
           FROM embeddings),
    m AS (
      SELECT qid,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
             CAST(COALESCE(MIN(CASE WHEN rel > 0 THEN sys_rank END), 0)
               AS BIGINT) AS first_hit_rank,
             CAST(SUM(rel * w) AS BIGINT) AS dcg
      FROM jn GROUP BY qid
    )
    SELECT m.qid AS query_vec_id, nc.n_candidates, m.n_hits,
           CAST(m.n_hits AS DOUBLE) / {_RETR_K} AS recall_at_k,
           m.first_hit_rank,
           CASE WHEN m.first_hit_rank = 0 THEN 0.0
                ELSE 1.0 / CAST(m.first_hit_rank AS DOUBLE) END AS mrr,
           m.dcg,
           CAST(m.dcg AS DOUBLE) / {float(_RETR_IDCG)} AS ndcg
    FROM m CROSS JOIN nc
    ORDER BY query_vec_id
    """,
)
def llm_retrieval_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F134: RETRIEVAL EVALUATION — recall@k, MRR and nDCG@k of the
    sign-bit Hamming retriever (the F90 codec) against exact-cosine
    ground truth, per query of a fixed panel. The family's missing
    closing bracket: J18 measures bucketed-ANN recall against a truth
    SAMPLE, F102 sweeps bucket widths — this is the standard graded-
    relevance IR readout (the one a retrieval stack reports before a
    codec swap ships) computed over the corpus itself, with truth =
    exact int-dot cosine top-k and graded relevance 11-truth_rank.

    Exactness: both rankings order by bitwise-identical keys (the
    exact int-dot cosine double / the integer Hamming distance) with
    vec_id tie-breaks, so ranks are integers and identical across
    engines; DCG uses nano-quantized integer discount weights
    round(1e9/log2(i+1)) — a literal table shared by both engines —
    making DCG an exact integer sum and nDCG one division by the
    constant ideal (graded relevance is bounded by construction, so
    IDCG is a literal too). MRR/recall are single divisions of exact
    ints; first_hit_rank=0 encodes "no truth member retrieved"
    (NULL-free cross-engine).

    Scale shape: the corpus is quantized and norm'd in ONE O(N*D)
    pass (the decimal cast is the expensive step; paying it inside
    the Q*N pair rows measured ~4x slower at the 10x probe), then the
    Q-row query panel broadcasts (Q FIXED — the pair stage is pure
    int64 multiply-adds, linear in the corpus); per-query top-k via
    rank-window over qid partitions (Q bounded; at 10^9 vectors each
    panel query would TakeOrdered against the S20/S22 stores instead
    of the float scan — the F90 discipline). Metrics aggregate
    O(Q*k) rows.
    """
    # Quantize each side ONCE before the panel join: the decimal cast
    # is the expensive step, so paying it O(N*D) on the candidate side
    # (not O(Q*N*D) inside the pair rows) is a measured ~4x at the 10x
    # probe; the pair stage is then pure int64 multiply-adds.
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = _long_sum(F.transform("x", lambda v: v * v))
    d2 = pin(
        emb.select(
            F.col("vec_id").alias("vid"),
            F.transform("embedding", _iscale).alias("x"),
        )
        .withColumn("dd", norm2)
    )
    q = d2.filter(F.col("vid").isin(*_RETR_QUERY_IDS)).select(
        F.col("vid").alias("qid"),
        F.col("x").alias("qx"),
        F.col("dd").alias("qq"),
    )
    idot = _sv_dot("x", "qx")
    ham = _sign_hamming("x", "qx")
    cand = pin(
        d2.join(F.broadcast(q), F.col("vid") != F.col("qid"))
        .select(
            "qid",
            "vid",
            (
                idot.cast("double")
                / (
                    F.sqrt(F.col("dd").cast("double"))
                    * F.sqrt(F.col("qq").cast("double"))
                )
            ).alias("cosine"),
            ham.alias("hamming"),
        )
    )
    truth = (
        cand.withColumn(
            "truth_rank",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(
                    F.desc("cosine"), F.col("vid")
                )
            )
            .cast("long"),
        )
        .filter(F.col("truth_rank") <= _RETR_K)
        .select("qid", "vid", "truth_rank")
    )
    sysr = (
        cand.withColumn(
            "sys_rank",
            F.row_number()
            .over(Window.partitionBy("qid").orderBy("hamming", "vid"))
            .cast("long"),
        )
        .filter(F.col("sys_rank") <= _RETR_K)
        .select("qid", "vid", "sys_rank")
    )
    warr = F.array(*[F.lit(w).cast("long") for w in _DCG_W])
    jn = sysr.join(truth, ["qid", "vid"], "left").select(
        "qid",
        "sys_rank",
        F.when(F.col("truth_rank").isNull(), F.lit(0).cast("long"))
        .otherwise(F.lit(_RETR_K + 1) - F.col("truth_rank"))
        .alias("rel"),
        F.element_at(warr, F.col("sys_rank").cast("int")).alias("w"),
    )
    # count off the already-checkpointed quantized relation (same
    # cardinality as the source) — no second parquet scan
    nc = d2.agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("n_candidates")
    )
    m = jn.groupBy("qid").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.coalesce(
            F.min(F.when(F.col("rel") > 0, F.col("sys_rank"))),
            F.lit(0).cast("long"),
        )
        .cast("long")
        .alias("first_hit_rank"),
        F.sum(F.col("rel") * F.col("w")).cast("long").alias("dcg"),
    )
    return (
        m.crossJoin(F.broadcast(nc))
        .select(
            F.col("qid").alias("query_vec_id"),
            "n_candidates",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(_RETR_K)).alias(
                "recall_at_k"
            ),
            "first_hit_rank",
            F.when(F.col("first_hit_rank") == 0, F.lit(0.0))
            .otherwise(
                F.lit(1.0) / F.col("first_hit_rank").cast("double")
            )
            .alias("mrr"),
            "dcg",
            (
                F.col("dcg").cast("double") / F.lit(float(_RETR_IDCG))
            ).alias("ndcg"),
        )
        .orderBy("query_vec_id")
    )
