"""Training-data pipeline operators over `documents` (north-star family;
extends SURVEY.md §2.C): chunking, sequence packing, decontamination,
and normalization — the steps between a raw crawl and a tokenizer.

All four are single-scan, JVM-side plans (split/slice/HOF/window — no
Python in the row path) and each has an exact DuckDB SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_cached_examples_spark.plans.artifacts import memo
from presto_cached_examples_spark.registry import register
from presto_cached_examples_spark.plans.persistence import maybe_persist
from presto_cached_examples_spark.sources.catalog import load_table, spread

# Chunking: window of 32 tokens advancing by 24 (8-token overlap keeps
# boundary context for retrieval); fixture docs are 10-99 tokens so most
# docs produce 1-4 chunks. Real pipelines use ~512-token windows — only
# the two constants change.
_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24

# Packing: target sequence budget in tokens.
_PACK_BUDGET = 256

# Decontamination: n-gram size and eval-split modulus (doc_id % 20 == 0
# → a deterministic 5% holdout standing in for an eval benchmark).
_DECONTAM_N = 5
_EVAL_MOD = 20

_SCRUB_STOPWORDS = ("a", "the", "of", "data", "value")

# Boilerplate scrub: "line" = consecutive 8-token span (the fixture has
# no newlines; on a real crawl split on '\n' instead — one constant),
# boilerplate = a line occurring in >= 2 distinct documents corpus-wide.
_BP_LINE_TOKENS = 8
_BP_MIN_DOCS = 2


@register(
    "q_chunk_docs",
    category="llm-pipeline",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(
               0, CAST(FLOOR((LEN(toks) - 1) / {_CHUNK_STRIDE}) AS BIGINT)
             )) AS chunk_id
      FROM d
    )
    SELECT doc_id,
           chunk_id,
           array_to_string(
             toks[chunk_id * {_CHUNK_STRIDE} + 1 :
                  chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}], ' '
           ) AS chunk_text,
           LEN(toks[chunk_id * {_CHUNK_STRIDE} + 1 :
                    chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}])::BIGINT
             AS n_tokens
    FROM c
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping token windows (32 tokens,
    stride 24) for retrieval / context-window ingestion. The window list
    is built map-side with sequence→transform→slice and exploded — one
    scan, no shuffle at all; at 100 TB this is a pure bandwidth-bound
    flatMap whose output feeds the tokenizer shard-local."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    last_chunk = F.floor((F.size(toks) - 1) / _CHUNK_STRIDE).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), last_chunk),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.slice(toks, (i * _CHUNK_STRIDE + 1).cast("int"), _CHUNK_TOKENS).alias("ctoks"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.concat_ws(" ", "c.ctoks").alias("chunk_text"),
            F.size("c.ctoks").cast("long").alias("n_tokens"),
        )
    )


@register(
    "q_pack_sequences",
    category="llm-pipeline",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             LEN(STRING_SPLIT(text, ' '))::BIGINT AS n_tokens,
             SUM(LEN(STRING_SPLIT(text, ' '))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )::BIGINT AS cum
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % {_PACK_BUDGET} AS BIGINT)        AS pack_offset
    FROM t
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for pretraining: concatenate documents in
    doc_id order within each source shard and cut every 256 tokens; a
    document belongs to the pack where it starts (pack_id) at byte-free
    token offset pack_offset. One running-sum window per shard — the
    partition key is `source`, so there is NO global sort: at 100 TB each
    shard packs independently (exactly how real pipelines shard packing)
    and the only shuffle is the hash partition on source. Cross-pack
    straddle is intentional (standard causal-LM packing discards nothing;
    the loader masks attention across the cut)."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "source", ntok.alias("n_tokens"))
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(start / _PACK_BUDGET).cast("long").alias("pack_id"),
        (start % _PACK_BUDGET).cast("long").alias("pack_offset"),
    )


@register(
    "q_decontam",
    category="llm-pipeline",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(1, GREATEST(LEN(toks) - {_DECONTAM_N - 1}, 1))) AS i
      FROM d
    ),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i : i + {_DECONTAM_N - 1}], ' ') AS gram
      FROM pos
    )
    SELECT t.doc_id AS train_id,
           e.doc_id AS eval_id,
           COUNT(*) AS n_shared
    FROM g t JOIN g e ON t.gram = e.gram
    WHERE t.doc_id % {_EVAL_MOD} <> 0 AND e.doc_id % {_EVAL_MOD} = 0
    GROUP BY t.doc_id, e.doc_id
    """,
)
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: report (train doc, eval doc) pairs
    sharing at least one 5-token n-gram, with the shared-gram count —
    the standard benchmark-leakage check run before training. The eval
    split here is a deterministic 5% holdout (doc_id % 20 == 0).

    Scale: the eval side (a benchmark suite) is tiny relative to the
    corpus, so its exploded gram set is broadcast — the 100 TB train
    scan never shuffles; each task probes the in-memory gram table and
    only (train_id, eval_id) hits reach the aggregation. Grams are
    joined as strings here for oracle transparency; at ingest you'd key
    on xxhash64(gram) to shrink the broadcast table."""
    # spread(): same rationale as q_decontam_hashed below — the 5-gram
    # builder is CPU-bound per row and an under-split fixture scan
    # serializes it on 1-2 cores (2.1 s vs the hashed twin's 0.44 s at
    # sf0.1 was THIS, not the hash). No-op at production split counts.
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (_DECONTAM_N - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _DECONTAM_N)),
        )
    )
    docs = d.select("doc_id", grams.alias("grams"))
    ev = docs.filter(F.col("doc_id") % _EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), F.explode("grams").alias("gram")
    )
    tr = docs.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_id"), F.explode("grams").alias("gram")
    )
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register(
    "q_decontam_hashed",
    category="llm-pipeline",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(1, GREATEST(LEN(toks) - {_DECONTAM_N - 1}, 1))) AS i
      FROM d
    ),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i : i + {_DECONTAM_N - 1}], ' ') AS gram
      FROM pos
    )
    SELECT t.doc_id AS train_id,
           e.doc_id AS eval_id,
           COUNT(*) AS n_shared
    FROM g t JOIN g e ON t.gram = e.gram
    WHERE t.doc_id % {_EVAL_MOD} <> 0 AND e.doc_id % {_EVAL_MOD} = 0
    GROUP BY t.doc_id, e.doc_id
    """,
)
def q_decontam_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination joined on xxhash64(gram) instead of the gram
    string — the production form q_decontam's docstring promises. The
    broadcast table shrinks from (gram string ≈ 30 B, eval_id) to
    (8 B hash, eval_id) — measured at sf0.1: 328 KB of gram strings vs
    98 KB of hashes on the 12,298-row eval side, a 3.3× key shrink —
    and the train-side probe hashes each gram instead of materializing
    it for the exchange.

    The join ROUTES on the hash and RE-VERIFIES on the gram string —
    the same discipline as q_contamination_report below: the 8-byte
    key does the hashing/probing work, the string only survives an
    equality check on rows the hash already matched, so a 64-bit
    collision costs one discarded row instead of a wrong pair. No
    birthday-bound asterisk at any corpus size.

    Scale: identical to q_decontam — eval side broadcast, train scan
    never shuffles — with the hash as the probe key per executor."""
    # spread(): shingling + hashing is CPU-bound per row; under-split
    # fixture scans serialize it on one core (3.6 s -> ~0.6 s at sf0.1).
    # No-op at production split counts.
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (_DECONTAM_N - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _DECONTAM_N)),
        )
    )
    docs = d.select("doc_id", grams.alias("grams"))
    ev = (
        docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_id"), F.explode("grams").alias("g_ev"))
        .select("eval_id", "g_ev", F.xxhash64("g_ev").alias("gh"))
    )
    tr = (
        docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .select(F.col("doc_id").alias("train_id"), F.explode("grams").alias("g"))
        .select("train_id", "g", F.xxhash64("g").alias("gh"))
    )
    return (
        tr.join(F.broadcast(ev), "gh")
        # hash routed the candidates; the string check settles them
        .filter(F.col("g") == F.col("g_ev"))
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register(
    "q_boilerplate_scrub",
    category="llm-pipeline",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             UNNEST(range(0, CAST(CEIL(LEN(toks) / {_BP_LINE_TOKENS}.0) AS BIGINT))) AS li
      FROM d
    ),
    lines AS (
      SELECT doc_id, li,
             array_to_string(
               toks[li * {_BP_LINE_TOKENS} + 1 : li * {_BP_LINE_TOKENS} + {_BP_LINE_TOKENS}],
               ' ') AS line
      FROM pos
    ),
    freq AS (
      SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY line
    )
    SELECT l.doc_id,
           COALESCE(
             string_agg(CASE WHEN f.nd < {_BP_MIN_DOCS} THEN l.line END, ' ' ORDER BY l.li),
             '') AS clean_text,
           CAST(SUM(CASE WHEN f.nd >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lines_removed
    FROM lines l JOIN freq f ON l.line = f.line
    GROUP BY l.doc_id
    """,
)
def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level boilerplate removal: split every document
    into 8-token lines, count each distinct line's document frequency
    across the WHOLE corpus, and rebuild each document keeping only
    lines seen in fewer than 2 documents (the nav-bar / cookie-banner /
    license-header scrub every web-crawl pipeline runs), plus an audit
    count of removed lines.

    Scale: the line explode is map-side; the document-frequency
    aggregate is two-phase keyed on the line text (at ingest you'd key
    on xxhash64(line) — q_decontam_hashed's trick); the flag join is a
    plain equi-join on that key; reassembly groups by doc_id collecting
    only the doc's OWN lines (bounded by document length, never corpus-
    sized). Every shuffle carries (line-key, ids) — raw text crosses
    the wire once, partitioned by doc for the rebuild."""
    # spread(): the 8-token line build (sequence + slice + concat_ws per
    # line) is CPU-bound per row; the under-split fixture scan
    # serialized it on 1-2 cores (round 16 — the same guide §2.5
    # discipline its decontam/fingerprint siblings got in round 15).
    # No-op at production split counts.
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    n_lines = F.ceil(F.size(toks) / F.lit(float(_BP_LINE_TOKENS))).cast("long")
    linearr = F.transform(
        F.sequence(F.lit(0).cast("long"), n_lines - 1),
        lambda i: F.struct(
            i.alias("li"),
            F.concat_ws(
                " ", F.slice(toks, (i * _BP_LINE_TOKENS + 1).cast("int"), _BP_LINE_TOKENS)
            ).alias("line"),
        ),
    )
    lines = d.select("doc_id", F.explode(linearr).alias("l")).select(
        "doc_id", F.col("l.li").alias("li"), F.col("l.line").alias("line")
    )
    freq = lines.groupBy("line").agg(F.countDistinct("doc_id").alias("nd"))
    flagged = lines.join(freq, "line").select(
        "doc_id", "li", "line", (F.col("nd") >= _BP_MIN_DOCS).alias("bp")
    )
    ls = F.array_sort(F.collect_list(F.struct("li", "line", "bp")))
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(F.filter(ls, lambda s: ~s["bp"]), lambda s: s["line"]),
        ).alias("clean_text"),
        F.size(F.filter(ls, lambda s: s["bp"])).cast("long").alias("n_lines_removed"),
    )


@register(
    "q_text_normalize",
    category="llm-pipeline",
    oracle="""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks
      FROM documents
    )
    SELECT doc_id,
           array_to_string(
             list_filter(toks, x -> NOT list_contains(
               ['a', 'the', 'of', 'data', 'value'], x)), ' '
           ) AS clean_text,
           (LEN(toks) - LEN(list_filter(toks, x -> NOT list_contains(
               ['a', 'the', 'of', 'data', 'value'], x))))::BIGINT
             AS n_removed
    FROM d
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization scrub: casefold, trim, drop stopword tokens; emit
    the cleaned text plus how many tokens were removed (the audit
    column a filtering pipeline logs). Pure map-side HOFs — a 100 TB
    run is one pass, no shuffle, output written back shard-local."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    keep = F.filter(toks, lambda t: ~t.isin(*_SCRUB_STOPWORDS))
    return d.select(
        "doc_id",
        F.concat_ws(" ", keep).alias("clean_text"),
        (F.size(toks) - F.size(keep)).cast("long").alias("n_removed"),
    )


_MIX_TOKEN_BUDGET = 1_000_000  # total training-token budget to allocate


@register(
    "q_mix_weights",
    category="llm-pipeline",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(LEN(list_filter(STRING_SPLIT(text, ' '), t -> t <> ''))) AS BIGINT) AS n_tokens,
             3 - CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) % 3 AS tier_weight
      FROM documents GROUP BY source
    ),
    shared AS (
      SELECT *, SUM(tier_weight) OVER () AS total_weight FROM per_source
    )
    SELECT source, n_docs, n_tokens, tier_weight,
           ROUND(tier_weight * 1.0 / total_weight, 4) AS share,
           CAST(FLOOR({_MIX_TOKEN_BUDGET} * tier_weight * 1.0 / total_weight) AS BIGINT)
             AS target_tokens,
           ROUND({_MIX_TOKEN_BUDGET} * tier_weight * 1.0 / total_weight / n_tokens, 4)
             AS sample_rate,
           CAST(CEIL({_MIX_TOKEN_BUDGET} * tier_weight * 1.0 / total_weight / n_tokens) AS BIGINT)
             AS n_epochs
    FROM shared
    """,
)
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: allocate a fixed token budget across
    sources by tier weight (tier = source index mod 3 — a stand-in for
    the quality tiers a curation team assigns), then derive each
    source's sampling rate and epoch count — the table a data-loading
    config is generated from.

    Scale: one hash aggregate collapses the corpus to |sources| rows;
    the normalizing window and every derived column run over that tiny
    relation. The token count per source is the only work proportional
    to data volume, and it's a map-side size(split) — no explode, no
    token-keyed shuffle."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok.cast("long")).alias("n_tokens"),
    ).withColumn(
        "tier_weight",
        3 - F.regexp_extract("source", r"(\d+)$", 1).cast("int") % 3,
    )
    shared = per_source.withColumn(
        "total_weight", F.sum("tier_weight").over(Window.partitionBy())
    )
    target = F.lit(_MIX_TOKEN_BUDGET) * F.col("tier_weight") * 1.0 / F.col("total_weight")
    return shared.select(
        "source",
        "n_docs",
        "n_tokens",
        "tier_weight",
        F.round(F.col("tier_weight") * 1.0 / F.col("total_weight"), 4).alias("share"),
        F.floor(target).cast("long").alias("target_tokens"),
        F.round(target / F.col("n_tokens"), 4).alias("sample_rate"),
        F.ceil(target / F.col("n_tokens")).cast("long").alias("n_epochs"),
    )


@register(
    "q_curation_funnel",
    category="llm-pipeline",
    oracle="""
    WITH raw AS (SELECT * FROM documents),
    lang AS (SELECT * FROM raw WHERE lang = 'en'),
    quality AS (
      SELECT * FROM lang
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 20
        AND LEN(list_distinct(STRING_SPLIT(text, ' ')))::DOUBLE
              / LEN(STRING_SPLIT(text, ' ')) > 0.2
    ),
    dedup AS (
      SELECT * FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' '))
                 ORDER BY doc_id
               ) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    counts AS (
      SELECT 1 AS stage_no, 'raw' AS stage, (SELECT COUNT(*) FROM raw) AS n_docs
      UNION ALL
      SELECT 2, 'lang_en', (SELECT COUNT(*) FROM lang)
      UNION ALL
      SELECT 3, 'quality', (SELECT COUNT(*) FROM quality)
      UNION ALL
      SELECT 4, 'dedup', (SELECT COUNT(*) FROM dedup)
    )
    SELECT stage_no, stage, n_docs,
           ROUND(n_docs * 1.0 / (SELECT COUNT(*) FROM raw), 4) AS frac_of_raw
    FROM counts
    """,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel: the survivor count after each stage
    of a pre-training data sweep — language filter, heuristic quality
    gate, vocabulary-fingerprint dedup (the fixture's near-dups are
    word-order scrambles, so the sorted-vocab key is what catches them) — the single table a curation run reports to its
    owners. Composes the stages the engine implements individually
    (q_text_langstats / q_text_quality / q_dedup_exact) into one lazy
    plan.

    Scale: ONE corpus scan (round 9 — the stage-per-aggregate form
    read documents five times). Every stage count is an aggregate of
    per-row flags: raw = COUNT(*), lang = SUM(is_lang), quality =
    SUM(is_quality), and the dedup survivor count is
    COUNT(DISTINCT fingerprint) over quality rows — keeping rn=1 per
    fingerprint counts exactly one row per distinct fingerprint, so
    no window is needed at all. The 4-row funnel then explodes from
    the single aggregate row map-side; the funnel never materializes
    intermediate corpora, and never re-reads the input."""
    raw = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    is_lang = (F.col("lang") == "en").cast("long")
    is_quality = (
        (F.col("lang") == "en")
        & (F.size(toks) >= 20)
        & (F.size(F.array_distinct(toks)).cast("double") / F.size(toks) > 0.2)
    )
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " ")))))
    agg = raw.agg(
        F.count(F.lit(1)).alias("n_raw"),
        # coalesce: SUM over zero rows is NULL, but an empty corpus
        # must report 0 like the COUNT(*) form and the oracle do
        F.coalesce(F.sum(is_lang), F.lit(0)).alias("n_lang"),
        F.coalesce(F.sum(is_quality.cast("long")), F.lit(0)).alias("n_quality"),
        F.count_distinct(F.when(is_quality, fp)).alias("n_dedup"),
    )

    def srow(no: int, name: str, col: str):
        return F.struct(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.col(col).alias("n_docs"),
        )

    return agg.select(
        F.explode(
            F.array(
                srow(1, "raw", "n_raw"),
                srow(2, "lang_en", "n_lang"),
                srow(3, "quality", "n_quality"),
                srow(4, "dedup", "n_dedup"),
            )
        ).alias("s"),
        "n_raw",
    ).select(
        F.col("s.stage_no").alias("stage_no"),
        F.col("s.stage").alias("stage"),
        F.col("s.n_docs").alias("n_docs"),
        F.round(F.col("s.n_docs") * 1.0 / F.col("n_raw"), 4).alias("frac_of_raw"),
    )


@register(
    "q_contamination_report",
    category="llm-pipeline",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(1, GREATEST(LEN(toks) - {_DECONTAM_N - 1}, 1))) AS i
      FROM d
    ),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i : i + {_DECONTAM_N - 1}], ' ') AS gram
      FROM pos
    ),
    hits AS (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
      FROM g t JOIN g e ON t.gram = e.gram
      WHERE t.doc_id % {_EVAL_MOD} <> 0 AND e.doc_id % {_EVAL_MOD} = 0
      GROUP BY t.doc_id, e.doc_id
    )
    SELECT d.doc_id AS eval_id,
           CAST(COUNT(h.train_id) AS BIGINT) AS n_train_matches,
           CAST(COALESCE(MAX(h.n_shared), 0) AS BIGINT) AS max_shared_grams,
           COUNT(h.train_id) > 0 AS is_contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % {_EVAL_MOD} = 0) d
    LEFT JOIN hits h ON h.eval_id = d.doc_id
    GROUP BY d.doc_id
    """,
)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination report a team actually reads: ONE row per
    eval-set document — how many training docs share an
    decontamination n-gram with it, the worst overlap, and the
    contaminated flag — i.e. q_decontam's pair stream rolled up to
    eval coverage, with the LEFT join keeping clean eval docs in the
    report (absence of evidence shown, not silently dropped).

    Scale: identical to q_decontam up to the hit stream (eval grams
    broadcast, train scan never shuffles), then an aggregate keyed on
    eval_id — bounded by the eval suite size, trivially small. The
    final left join runs against the eval id list, also broadcast-
    sized."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (_DECONTAM_N - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _DECONTAM_N)),
        )
    )
    docs = d.select("doc_id", grams.alias("grams"))
    ev = docs.filter(F.col("doc_id") % _EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), F.explode("grams").alias("g")
    )
    # eval-slice gram grain (small by construction — it broadcasts
    # below); 2 consumers (the probe join + the eval-id universe), so
    # persist instead of re-scanning documents a third time. Every
    # eval doc emits >= 1 gram row (the gram builder floors the
    # sequence at 1 element), so DISTINCT eval_id over this relation
    # IS the full eval universe.
    ev = maybe_persist(ev, sf_dir)
    tr = docs.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_id"), F.explode("grams").alias("g")
    )
    # ROUTE on xxhash64(gram) — 8-byte join-key probes instead of long
    # strings — then RE-VERIFY each candidate hit on the gram string
    # itself (q_dedup_ngram's route-then-verify discipline). At 100 TB
    # the train×eval gram stream crosses the 64-bit birthday bound, so a
    # hash-only join would eventually fabricate a contamination pair;
    # the string equi-check caps the false-positive rate at exactly 0
    # while the hash still does the hash-table work.
    hits = (
        tr.select("train_id", F.xxhash64("g").alias("gh"), "g")
        .join(
            F.broadcast(
                ev.select("eval_id", F.xxhash64("g").alias("gh"), F.col("g").alias("g_ev"))
            ),
            "gh",
        )
        .filter(F.col("g") == F.col("g_ev"))
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    eval_ids = ev.select("eval_id").distinct()
    return (
        eval_ids.join(hits, "eval_id", "left")
        .groupBy("eval_id")
        .agg(
            F.count("train_id").cast("long").alias("n_train_matches"),
            F.coalesce(F.max("n_shared"), F.lit(0)).cast("long").alias(
                "max_shared_grams"
            ),
            (F.count("train_id") > 0).alias("is_contaminated"),
        )
    )


_TEMP_ALPHA = 0.7  # multilingual temperature-sampling exponent


@register(
    "q_mix_temperature",
    category="llm-pipeline",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang,
             CAST(SUM(LEN(list_filter(STRING_SPLIT(text, ' '), t -> t <> '')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    raw AS (
      SELECT lang, n_tokens,
             n_tokens * 1.0 / SUM(n_tokens) OVER () AS raw_share,
             POWER(n_tokens * 1.0 / SUM(n_tokens) OVER (), {_TEMP_ALPHA}) AS w
      FROM per_lang
    )
    SELECT lang, n_tokens,
           ROUND(raw_share, 4) AS raw_share,
           ROUND(w / SUM(w) OVER (), 4) AS temp_share,
           ROUND((w / SUM(w) OVER ()) / raw_share, 4) AS upsample_factor
    FROM raw
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual
    sampling formula: p_l ∝ share_l^alpha, alpha=0.7):
    per-language raw token share, temperature-flattened share, and the
    implied up/down-sampling factor — low-resource languages get
    boosted, the head suppressed, exactly the knob multilingual
    pretraining mixes are tuned with.

    Scale: token counts are a per-language aggregate (map-side
    partials over the token stream); everything after runs on a
    |languages|-row relation via two tiny unpartitioned windows.
    POWER and the 4dp rounding are identical on both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    per_lang = d.groupBy("lang").agg(
        F.sum(F.size(toks)).cast("long").alias("n_tokens")
    )
    w_all = Window.partitionBy()
    raw_share = F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(w_all)
    raw = per_lang.select(
        "lang", "n_tokens", raw_share.alias("raw_share"),
        F.pow(raw_share, _TEMP_ALPHA).alias("w"),
    )
    temp_share = F.col("w") / F.sum("w").over(w_all)
    return raw.select(
        "lang",
        "n_tokens",
        F.round("raw_share", 4).alias("raw_share"),
        F.round(temp_share, 4).alias("temp_share"),
        F.round(temp_share / F.col("raw_share"), 4).alias("upsample_factor"),
    )


# DSIR-style importance weights: hashed-unigram feature buckets, +1
# smoothing. B is the feature-hash width (production: 10k-100k buckets
# over n-gram features; the mechanics are identical).
_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"


@register(
    "q_quality_dsir",
    category="llm-pipeline",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      FROM documents
    ),
    bt AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_DSIR_BUCKETS} AS b
      FROM toks WHERE tok <> ''
    ),
    rawb AS (SELECT b, COUNT(*) AS raw_k FROM bt GROUP BY b),
    tgtb AS (SELECT b, COUNT(*) AS tgt_k FROM bt
             WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
    tot AS (
      SELECT (SELECT COUNT(*) FROM bt) AS raw_total,
             (SELECT COUNT(*) FROM bt WHERE lang = '{_DSIR_TARGET_LANG}') AS tgt_total
    ),
    buckets AS (
      SELECT r.b,
             LN((COALESCE(t.tgt_k, 0) + 1.0) / (tot.tgt_total + {_DSIR_BUCKETS}.0))
               - LN((r.raw_k + 1.0) / (tot.raw_total + {_DSIR_BUCKETS}.0)) AS lr
      FROM rawb r LEFT JOIN tgtb t ON t.b = r.b CROSS JOIN tot
    ),
    doc_b AS (SELECT doc_id, b, COUNT(*) AS k FROM bt GROUP BY doc_id, b)
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           ROUND(SUM(d.k * u.lr) / SUM(d.k), 4) AS log_ratio
    FROM doc_b d JOIN buckets u ON u.b = d.b
    GROUP BY d.doc_id
    """,
)
def q_quality_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by its mean per-token log importance ratio ln(p_target/p_raw) under
    two hashed-unigram bucket distributions — target = the {lang}
    slice (the stand-in for a high-quality domain sample), raw = the
    whole corpus — with +1 smoothing over {B} buckets. Positive means
    "looks like the target domain"; the downstream sampler keeps docs
    proportional to exp(score). Feature hashing is md5-derived, so
    DuckDB replays the bucket assignment bit-for-bit.

    Scale: token explode is map-side; (doc, bucket) counts collapse via
    two-phase hash aggregate BEFORE any join; the bucket distribution
    table is {B} rows — a broadcast — and totals are 1-row scalar
    broadcasts, so the per-doc scoring join never shuffles anything
    data-proportional except the (doc, bucket) count relation itself,
    keyed on the uniform doc_id. At 100 TB the bucket table grows to
    the production hash width (10k-100k rows) and stays broadcast-
    sized; the target distribution is fit once at ingest."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % _DSIR_BUCKETS
    )
    bt = toks.select("doc_id", "lang", bucket.alias("b"))
    # Round 15 (guide §2.4): ONE corpus token pass. The (doc, bucket)
    # grain now carries the doc's (constant) lang, so the bucket-level
    # distribution rolls up from IT instead of from a second
    # explode+md5 pass over the corpus (round 9 had cut 4 passes to 2;
    # this cuts 2 to 1 under the persist gate, and at fixture scale
    # the two consumers share the db exchange). min(lang) is exact:
    # lang is functionally determined by doc_id.
    db = bt.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("k"), F.min("lang").alias("lang")
    )
    db = maybe_persist(db, sf_dir)
    doc_b = db.select("doc_id", "b", "k")
    blt = db.groupBy("b", "lang").agg(F.sum("k").alias("k"))
    rawb = blt.groupBy("b").agg(F.sum("k").alias("raw_k"))
    tgtb = (
        blt.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.sum("k").alias("tgt_k"))
    )
    tot = blt.agg(
        F.coalesce(F.sum("k"), F.lit(0)).alias("raw_total"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("k"))), F.lit(0)
        ).alias("tgt_total"),
    )
    lr = F.log(
        (F.coalesce(F.col("tgt_k"), F.lit(0)) + 1.0)
        / (F.col("tgt_total") + float(_DSIR_BUCKETS))
    ) - F.log((F.col("raw_k") + 1.0) / (F.col("raw_total") + float(_DSIR_BUCKETS)))
    buckets = (
        rawb.join(tgtb, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select("b", lr.alias("lr"))
    )
    return (
        doc_b.join(F.broadcast(buckets), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("k") * F.col("lr")) / F.sum("k"), 4).alias("log_ratio"),
        )
    )


q_quality_dsir.__doc__ = q_quality_dsir.__doc__.replace(
    "{lang}", _DSIR_TARGET_LANG
).replace("{B}", str(_DSIR_BUCKETS))


# PII scrub: redaction patterns (email / IPv4 / NANP-style 555 phone).
# The fixture text is synthetic word salad with no PII, so — exactly as
# q_dedup_url derives URLs — the raw column is DERIVED by injecting
# deterministic PII spans from doc_id on BOTH engines; the scrubber
# itself is generic and sees only the raw string. Patterns are written
# in the common subset of Java regex (Spark) and RE2 (DuckDB):
# literal classes, bounded repeats, \b word boundaries — no lookarounds.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b555-\d{4}\b"


@register(
    "q_pii_scrub",
    category="llm-pipeline",
    oracle=f"""
    WITH raw AS (
      SELECT source,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.com' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR)
                          || '.' || CAST(doc_id % 250 AS VARCHAR)
                          || '.' || CAST(doc_id % 97 AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                     ELSE '' END AS raw
      FROM documents
    ),
    scrub AS (
      SELECT source, raw,
             LEN(regexp_extract_all(raw, '{_PII_EMAIL}')) AS e,
             LEN(regexp_extract_all(raw, '{_PII_IP}')) AS i,
             LEN(regexp_extract_all(raw, '{_PII_PHONE}')) AS ph,
             regexp_replace(regexp_replace(regexp_replace(raw,
               '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_IP}', '[IP]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g') AS clean
      FROM raw
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN e + i + ph > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_pii,
           CAST(SUM(e) AS BIGINT) AS n_emails,
           CAST(SUM(i) AS BIGINT) AS n_ips,
           CAST(SUM(ph) AS BIGINT) AS n_phones,
           CAST(SUM(LEN(raw) - LEN(clean)) AS BIGINT) AS chars_redacted
    FROM scrub
    GROUP BY source
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction report: per source, documents containing
    email / IPv4 / phone spans, per-pattern match counts, and the
    character volume redacted by replacing each span with a fixed
    token — the compliance scrub that runs before any training-data
    release. The fixture has no PII, so deterministic spans are
    injected from doc_id on both engines (q_dedup_url's derivation
    pattern); the scrubber itself is generic regexp_replace.

    Scale: one scan, all map-side — regexp count + replace are
    JVM-side codegen expressions, no Python, no join; the only
    shuffle is the final aggregate keyed on the bounded source
    domain. Patterns use the Java-regex/RE2 common subset (no
    lookarounds), so the same strings drive both engines; email is
    replaced before IP/phone, and the replacement tokens contain no
    digits, so the three passes cannot create or destroy one
    another's matches."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    did = F.col("doc_id")
    raw = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@mail.example.com")
            ),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" host 10."),
                (did % 200).cast("string"),
                F.lit("."),
                (did % 250).cast("string"),
                F.lit("."),
                (did % 97).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" call 555-"), (1000 + did % 9000).cast("string")),
        ).otherwise(""),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "[EMAIL]"),
            _PII_IP,
            "[IP]",
        ),
        _PII_PHONE,
        "[PHONE]",
    )
    scrub = d.select("source", raw.alias("raw")).select(
        "source",
        "raw",
        F.regexp_count(F.col("raw"), F.lit(_PII_EMAIL)).alias("e"),
        F.regexp_count(F.col("raw"), F.lit(_PII_IP)).alias("i"),
        F.regexp_count(F.col("raw"), F.lit(_PII_PHONE)).alias("ph"),
        clean.alias("clean"),
    )
    return scrub.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("e") + F.col("i") + F.col("ph") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_pii"),
        F.sum("e").cast("long").alias("n_emails"),
        F.sum("i").cast("long").alias("n_ips"),
        F.sum("ph").cast("long").alias("n_phones"),
        F.sum(F.length("raw") - F.length("clean")).cast("long").alias("chars_redacted"),
    )


_SPAN_SCRUB_N = 5  # duplicated-span width scrubbed (matches q_dedup_span)


@register(
    "q_scrub_dup_spans",
    category="llm-pipeline",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(1, LEN(toks) - {_SPAN_SCRUB_N - 1})) AS i
      FROM d WHERE LEN(toks) >= {_SPAN_SCRUB_N}
    ),
    g AS (
      SELECT doc_id, i,
             array_to_string(toks[i : i + {_SPAN_SCRUB_N - 1}], ' ') AS gram
      FROM pos
    ),
    dup AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
      ) WHERE nd >= 2
    ),
    cov AS (
      SELECT DISTINCT g.doc_id, g.i + t.off AS p
      FROM g JOIN dup USING (gram),
           UNNEST(generate_series(0, {_SPAN_SCRUB_N - 1})) AS t(off)
    ),
    tokpos AS (
      SELECT doc_id, j, toks[j] AS tok
      FROM d, UNNEST(generate_series(1, LEN(toks))) AS t(j)
    ),
    clean AS (
      SELECT tp.doc_id,
             array_to_string(LIST(tp.tok ORDER BY tp.j), ' ') AS clean_text,
             COUNT(*) AS n_kept
      FROM tokpos tp
      LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.j
      WHERE cov.p IS NULL
      GROUP BY tp.doc_id
    )
    SELECT d.doc_id,
           LEN(d.toks) AS n_tokens,
           CAST(LEN(d.toks) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM d LEFT JOIN clean c ON c.doc_id = d.doc_id
    """,
)
def q_scrub_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-dedup ACTION (Lee et al. 2022): remove every
    token covered by a {n}-gram that occurs in >= 2 distinct documents
    corpus-wide, and reassemble each document from its surviving tokens
    in order. q_dedup_span is the PROFILE of this pass; this operator
    executes it — the difference between knowing a corpus is 30%
    boilerplate and shipping one that isn't. Documents shorter than
    {n} tokens pass through verbatim.

    Scale: gram document-frequency is the same two-phase hash
    aggregate as q_dedup_span (distinct-per-doc caps any gram's count,
    so no Zipf skew); covered positions come from an equi-join on the
    gram string followed by a bounded explode ({n} offsets per dup
    gram); reassembly joins the per-doc covered-position SET (bounded
    by doc length, KB-scale — same acceptance as q_boilerplate_scrub's
    collect_list) back to the doc row and filters tokens by position
    with a JVM higher-order function. Every shuffle key is doc_id or
    the gram hash — uniform; nothing all-pairs.

    Reference provenance: C4 snapshot rewrite (/root/reference/src/
    DoublePsramBuffer480x480.cpp:68-69,176-193 — clear only the stale
    tiles, then redraw the retained ones; the clean_text reassembly is
    that rebuild over retained tokens)."""
    d = spread(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = _SPAN_SCRUB_N
    pos = (
        d.filter(F.size("toks") >= n)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - (n - 1))
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.concat_ws(" ", F.expr(f"slice(toks, i, {n})")).alias("gram"),
        )
    )
    dup = (
        pos.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    cov = (
        pos.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("p"),
        )
        .distinct()
    )
    covset = cov.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("p")).alias("ps")
    )
    ps = F.coalesce(F.col("ps"), F.expr("CAST(array() AS array<int>)"))
    return (
        d.join(covset, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.size(ps).cast("long").alias("n_removed"),
            F.concat_ws(
                " ",
                F.filter(
                    "toks", lambda t, idx: ~F.array_contains(ps, idx + F.lit(1))
                ),
            ).alias("clean_text"),
        )
    )


q_scrub_dup_spans.__doc__ = q_scrub_dup_spans.__doc__.replace(
    "{n}", str(_SPAN_SCRUB_N)
)


@register(
    "q_mix_schedule",
    category="llm-pipeline",
    oracle="""
    WITH w AS (
      SELECT source, sqrt(COUNT(*)) AS wt FROM documents GROUP BY source
    ),
    r AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rnk
      FROM documents d
    ),
    v AS (
      SELECT r.doc_id, r.source, (r.rnk - 0.5) / w.wt AS vtime
      FROM r JOIN w USING (source)
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vtime, doc_id) AS BIGINT)
             AS pos,
           doc_id, source
    FROM v
    """,
)
def q_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order interleave (stride scheduling):
    each source advances a virtual clock at rate 1/sqrt(n_source) —
    temperature-2 mixing, so small sources appear more often than their
    share — and documents are emitted in global virtual-time order.
    Within a source, order is a seeded shuffle (md5(doc_id)). The
    output IS the epoch's data order: reproducible from nothing but
    the corpus, no RNG state to checkpoint.

    Scale: per-source rank is a PARTITIONED window (sources are the
    partition key); sqrt of an integer count is correctly rounded IEEE
    on both engines, and (rnk - 0.5)/wt involves no summation, so the
    virtual times are bit-identical cross-engine. The global emit
    order is NOT a single-task sort: `global_rank` range-partitions on
    vtime (approxQuantile split points + per-bucket row_number +
    prefix offsets), the same decomposition q_ntile_spend uses — the
    split points shape the plan, never the answer.

    Reference provenance: C5 fixed-order tile sweep
    (/root/reference/src/DoublePsramBuffer480x480.cpp:189-193 — every
    frame emits the block list in one deterministic order; the virtual
    clock generalizes that to weighted sources)."""
    from presto_cached_examples_spark.operators.distwindows import global_rank, range_splits

    d = load_table(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(F.sqrt(F.count(F.lit(1))).alias("wt"))
    r = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rnk"),
    )
    v = r.join(F.broadcast(w), "source").select(
        "doc_id",
        "source",
        ((F.col("rnk") - 0.5) / F.col("wt")).alias("vtime"),
    )
    # narrow (id, source, vtime) rows; the quantile sampler and the
    # rank decomposition's bucket/offset passes otherwise re-run the
    # scan AND the per-source window once each (4 documents scans
    # pre-round-9). First materialization rides the memoized
    # approxQuantile action, so warm builds stay job-free.
    v = maybe_persist(v, sf_dir)
    # exact global order by (vtime, doc_id) without a global sort —
    # vtime collides across equal-sized sources at equal rank, so the
    # unique doc_id is the tie-break on BOTH engines. Split points are
    # memoized per (session, sf) under the build-time-action contract
    # (registry.py header): they shape the global_rank plan, never the
    # answer, so only the FIRST build per session pays the
    # approxQuantile pass (ADVICE r7 item 2 — q_mix_schedule was the
    # one global_rank caller re-sampling on every plan build).
    splits = memo(
        spark,
        sf_dir,
        "mix_splits",
        lambda: range_splits(v, "vtime"),
    )
    ranked = global_rank(v, "vtime", "doc_id", out_rank="pos", splits=splits)
    return ranked.select(
        F.col("pos").cast("long").alias("pos"), "doc_id", "source"
    )


# Perplexity filter: keep docs whose add-1 bigram surprisal is at most
# mean + _PPL_SIGMAS * stddev of the corpus distribution (CCNet-style
# tail cut; the z-threshold form keeps the cut self-normalizing as the
# corpus distribution drifts — the q_important_stock lesson).
_PPL_SIGMAS = 1.0

def _ppl_surprisal_sql(src: str = "documents") -> str:
    """CTE chain `toks..surp` scoring each doc of relation ``src``
    (doc_id, text, ...) with the corpus's own add-1 bigram LM —
    parameterized so q_curation_pipeline can score the DEDUPED
    survivors with a survivor-trained model."""
    return _PPL_SURPRISAL_SQL.replace("FROM documents", f"FROM {src}", 1)


_PPL_SURPRISAL_SQL = """
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    doc_big AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS k
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
      GROUP BY doc_id, w1, w2
    ),
    bc AS (SELECT w1, w2, SUM(k) AS n_big FROM doc_big GROUP BY w1, w2),
    uc AS (SELECT w1, SUM(n_big) AS n_w1 FROM bc GROUP BY w1),
    vsize AS (SELECT COUNT(DISTINCT w2) AS v FROM bc),
    p AS (
      SELECT bc.w1, bc.w2,
             (bc.n_big + 1.0) / (uc.n_w1 + vs.v) AS cond_p
      FROM bc JOIN uc ON uc.w1 = bc.w1 CROSS JOIN vsize vs
    ),
    surp AS (
      SELECT d.doc_id,
             ROUND(SUM(d.k * -LN(p.cond_p)) / SUM(d.k), 4) AS s
      FROM doc_big d JOIN p ON p.w1 = d.w1 AND p.w2 = d.w2
      GROUP BY d.doc_id
    )
"""


def _doc_surprisal(
    d: DataFrame, spark: SparkSession | None = None, sf_dir: str | None = None
) -> DataFrame:
    """Per-doc add-1 bigram surprisal (doc_id, s) over relation ``d``
    (doc_id, text, ...) — the engine half of _ppl_surprisal_sql. The
    model tables are vocabulary-bounded and broadcast; doc_big and the
    scored relation are checkpointed because both feed two consumers
    (bc+surp, thr+verdict). Docs with < 2 tokens have no bigrams and
    are ABSENT from the result (LEFT-join them as no-evidence).

    When ``spark``/``sf_dir`` are given, ``d`` MUST be the full
    documents relation for that sf_dir: the result is then a session
    artifact shared by q_quality_ppl_filter and q_quality_ensemble
    (identical scoring pipelines over the identical base relation —
    guide §2.4; VERDICT r15 item 4), and the |V|^2 model table is
    shared through text.bigram_model_counts. Width is 2 columns × one
    row per doc — the CCNet-shape "score once, filter many" artifact a
    production pipeline writes out. Callers scoring any other relation
    (e.g. curation survivors) omit them and compute locally."""
    if spark is not None:
        return memo(spark, sf_dir, "surprisal", lambda: _score_surprisal(d, spark, sf_dir))
    return _score_surprisal(d)


def _score_surprisal(
    d: DataFrame, spark: SparkSession | None = None, sf_dir: str | None = None
) -> DataFrame:
    """_doc_surprisal's scoring pass, unmemoized."""
    from presto_cached_examples_spark.llm.text import bigram_model_counts, bigram_structs

    doc_big = (
        d.select("doc_id", F.explode(bigram_structs(F.split("text", " "))).alias("bg"))
        .select("doc_id", "bg.w1", "bg.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    doc_big = doc_big.localCheckpoint(eager=False)
    if spark is not None:
        # full-corpus call: share the |V|^2 model table session-wide;
        # on a cold cache the rollup of the already-needed doc_big
        # relation builds it (no extra corpus pass).
        bc = bigram_model_counts(
            spark,
            sf_dir,
            derive=lambda: doc_big.groupBy("w1", "w2").agg(
                F.sum("k").alias("n_big")
            ),
        )
    else:
        bc = doc_big.groupBy("w1", "w2").agg(F.sum("k").alias("n_big"))
        bc = bc.localCheckpoint(eager=False)  # |V|^2-bounded, 2 branches
    uc = bc.groupBy("w1").agg(F.sum("n_big").alias("n_w1"))
    vsize = bc.agg(F.countDistinct("w2").alias("v"))
    p = (
        bc.join(F.broadcast(uc), "w1")
        .join(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            ((F.col("n_big") + 1.0) / (F.col("n_w1") + F.col("v"))).alias("cond_p"),
        )
    )
    surp = (
        doc_big.join(F.broadcast(p), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("k") * -F.log("cond_p")) / F.sum("k"), 4).alias("s")
        )
    )
    # (doc_id, s) is |docs|-sized and feeds BOTH the threshold scalar
    # and the verdict join — checkpoint so the scoring pipeline runs once
    return surp.localCheckpoint(eager=False)


@register(
    "q_quality_ppl_filter",
    category="llm-pipeline",
    oracle=f"""
    WITH {_PPL_SURPRISAL_SQL},
    thr AS (
      SELECT ROUND(AVG(s) + {_PPL_SIGMAS} * STDDEV_SAMP(s), 4) AS thr FROM surp
    ),
    verdict AS (
      SELECT d.doc_id, d.source,
             CASE WHEN su.s IS NULL OR su.s <= t.thr THEN 1 ELSE 0 END AS keep
      FROM documents d
      LEFT JOIN surp su ON su.doc_id = d.doc_id
      CROSS JOIN thr t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           ROUND(SUM(keep) * 1.0 / COUNT(*), 4) AS retention
    FROM verdict GROUP BY source
    """,
)
def q_quality_ppl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-filtering ACTION (Wenzek et al. 2020, CCNet): score
    every document with the corpus's own add-1 bigram LM (the
    q_text_bigram_lm statistic), cut the high-surprisal tail at
    mean + {s}sigma, and report per-source retention — the curation step
    that drops machine-garbled and boilerplate-fragment text. The
    threshold is a z-score, not a constant, so the cut survives corpus
    drift; docs too short to have bigrams carry no evidence and are
    kept. (A production run scores with an EXTERNAL clean-corpus LM;
    the corpus-self-scored form is the same plan with the model tables
    read instead of derived.)

    Scale: the model tables (bc/uc) are vocabulary-bounded aggregates;
    per-doc scoring is the same gram-keyed join as q_text_bigram_lm;
    the threshold is a 1-row broadcast scalar (the q_important_stock
    pattern); the verdict pass is one scan + broadcast join. Rounding
    discipline: per-doc surprisal and the threshold are both rounded
    to 4 dp before the comparison, so the keep/drop decision compares
    IDENTICAL doubles on both engines.

    Reference provenance: C1 tier admission (/root/reference/src/
    PicoPlusPsram.cpp:14-29 — cheap summary statistic gates what
    reaches the slow tier)."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    surp = _doc_surprisal(d, spark, sf_dir)
    thr = surp.agg(
        F.round(F.avg("s") + _PPL_SIGMAS * F.stddev_samp("s"), 4).alias("thr")
    )
    keep = F.when(
        F.col("s").isNull() | (F.col("s") <= F.col("thr")), 1
    ).otherwise(0)
    return (
        d.select("doc_id", "source")
        .join(surp, "doc_id", "left")
        .join(F.broadcast(thr))
        .select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.round(F.sum("keep") / F.count(F.lit(1)), 4).alias("retention"),
        )
    )


q_quality_ppl_filter.__doc__ = q_quality_ppl_filter.__doc__.replace(
    "{s}", str(_PPL_SIGMAS)
)

_DP_SCALE = 1.0  # Laplace scale b (epsilon = sensitivity / b = 1)


@register(
    "q_count_dp",
    category="llm-pipeline",
    oracle=f"""
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    u AS (
      SELECT source, n,
             ((('0x' || substr(md5(source), 1, 8))::BIGINT + 0.5)
               / 4294967296.0) AS u
      FROM c
    )
    SELECT source,
           ROUND(n + (CASE WHEN u < 0.5 THEN 1 ELSE -1 END)
                     * {_DP_SCALE} * LN(1 - 2 * ABS(u - 0.5)), 3)
             AS dp_count
    FROM u
    """,
)
def q_count_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-source document counts: true count +
    Laplace(b={b}) noise (epsilon=1 for a count query) — the release
    primitive for publishing corpus statistics without exposing
    individual membership. The noise draw is SEEDED: u ~ U(0,1) from
    the first 8 md5 nibbles of the source name (+0.5 ulp shift keeps u
    strictly inside (0,1)), inverse-CDF'd through the Laplace quantile
    -b*sgn(u-.5)*ln(1-2|u-.5|), so the report is reproducible and the
    DuckDB oracle replays it bit-for-bit (the q_sample_weighted
    -LN(u) precedent; a production release would swap the md5 seed for
    a secret one — one expression).

    Scale: one hash aggregate + pure map-side noise arithmetic;
    nothing else. Rounded to 3 dp, absorbing cross-libm LN ulp drift.

    Reference provenance: NS (privacy release layer; no reference
    counterpart)."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    u = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10).cast("double")
        + 0.5
    ) / 4294967296.0
    sgn = F.when(u < 0.5, F.lit(-1.0)).otherwise(F.lit(1.0))
    noise = -sgn * _DP_SCALE * F.log(1 - 2 * F.abs(u - 0.5))
    return c.select("source", F.round(F.col("n") + noise, 3).alias("dp_count"))


q_count_dp.__doc__ = q_count_dp.__doc__.replace("{b}", str(_DP_SCALE))


@register(
    "q_dataset_card",
    category="llm-pipeline",
    oracle="""
    WITH base AS (
      SELECT source, doc_id, lang, n_chars,
             LEN(string_split(text, ' ')) AS n_toks,
             md5(text) AS fp
      FROM documents
    ),
    lc AS (
      SELECT source, lang, COUNT(*) AS nl FROM base GROUP BY source, lang
    ),
    toplang AS (
      SELECT source, lang AS top_lang, nl FROM (
        SELECT source, lang, nl,
               ROW_NUMBER() OVER (
                 PARTITION BY source ORDER BY nl DESC, lang) AS r
        FROM lc
      ) WHERE r = 1
    )
    SELECT b.source,
           COUNT(*) AS n_docs,
           CAST(SUM(b.n_toks) AS BIGINT) AS n_tokens,
           ROUND(AVG(b.n_chars), 2) AS avg_chars,
           COUNT(DISTINCT b.lang) AS n_langs,
           MIN(t.top_lang) AS top_lang,
           ROUND(MIN(t.nl) * 1.0 / COUNT(*), 4) AS top_lang_share,
           ROUND(1.0 - COUNT(DISTINCT b.fp) * 1.0 / COUNT(*), 4)
             AS exact_dup_rate
    FROM base b JOIN toplang t ON t.source = b.source
    GROUP BY b.source
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the datasheet table a training-data
    release ships (Gebru et al. 2021 "Datasheets for Datasets"): doc
    and token volume, average length, language inventory with the
    dominant language and its share (deterministic tie-break: count
    desc, lang asc), and the exact-duplicate rate from text md5
    fingerprints. One relation that answers "what IS this source"
    before any mixing decision.

    Scale: one scan computing per-doc token counts and fingerprints
    map-side; the language mode is a (source, lang)-keyed aggregate +
    a source-partitioned top-1 window (WindowGroupLimit); the main
    aggregate is source-keyed with one COUNT(DISTINCT fp) (two-phase,
    the fp key is uniform md5). All shuffle keys are source-bounded.

    Reference provenance: C9 self-reporting (/root/reference/
    README.md:14-21 — the demo publishes its own timing/fps card)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.md5("text").alias("fp"),
    )
    lc = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("nl"))
    toplang = (
        lc.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.col("nl").desc(), "lang")
            ),
        )
        .filter(F.col("r") == 1)
        .select("source", F.col("lang").alias("top_lang"), "nl")
    )
    return (
        base.join(F.broadcast(toplang), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("top_lang").alias("top_lang"),
            F.round(F.min("nl") / F.count(F.lit(1)), 4).alias("top_lang_share"),
            F.round(
                1.0 - F.countDistinct("fp") / F.count(F.lit(1)), 4
            ).alias("exact_dup_rate"),
        )
    )


def _curation_pipeline_oracle() -> str:
    """The composed curation oracle: exact dedup (keep min doc_id per
    text md5) -> survivor-trained surprisal + mean+sigma cut ->
    stride-scheduled training order. Generated so the stage SQL stays
    in lockstep with the standalone operators' oracles."""
    surp = _ppl_surprisal_sql("surv")
    return f"""
    WITH surv AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(text) ORDER BY doc_id) AS rd
        FROM documents
      ) WHERE rd = 1
    ),
    {surp},
    thr AS (
      SELECT ROUND(AVG(s) + {_PPL_SIGMAS} * STDDEV_SAMP(s), 4) AS thr FROM surp
    ),
    kept AS (
      SELECT sv.doc_id, sv.source
      FROM surv sv
      LEFT JOIN surp su ON su.doc_id = sv.doc_id
      CROSS JOIN thr t
      WHERE su.s IS NULL OR su.s <= t.thr
    ),
    w AS (SELECT source, sqrt(COUNT(*)) AS wt FROM kept GROUP BY source),
    r AS (
      SELECT k.doc_id, k.source,
             ROW_NUMBER() OVER (
               PARTITION BY k.source
               ORDER BY md5(CAST(k.doc_id AS VARCHAR)), k.doc_id) AS rnk
      FROM kept k
    ),
    v AS (
      SELECT r.doc_id, r.source, (r.rnk - 0.5) / w.wt AS vtime
      FROM r JOIN w USING (source)
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vtime, doc_id) AS BIGINT) AS pos,
           doc_id, source
    FROM v
    """


@register("q_curation_pipeline", category="llm-pipeline", oracle=_curation_pipeline_oracle())
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation path in one lazy plan — the batch twin of
    q_ann_pipeline's composed-serving showpiece, for the data-curation
    side: (1) exact dedup keeps the min-doc_id canonical per text md5;
    (2) the SURVIVORS train the add-1 bigram LM that scores them, and
    the mean+{s}sigma surprisal cut drops the garbled tail (training
    the filter after dedup matters — duplicate mass would bias the LM
    toward boilerplate and protect it from the cut); (3) the kept docs
    are stride-scheduled into the reproducible training order
    (1/sqrt(n_source) virtual clocks over POST-FILTER counts). Output
    is the final (pos, doc_id, source) epoch order a trainer consumes.

    One action executes the whole chain; no stage materializes outside
    the plan (the LM tables and threshold are broadcast scalars, the
    only checkpoints are the |V|^2 model table and the |docs| score
    relation, both also present in the standalone operators).

    Scale: dedup is one hash shuffle on md5(text); scoring is the
    q_quality_ppl_filter shape; scheduling is the q_mix_schedule
    shape (range-partitioned global_rank, no global sort). Each stage
    was scale-probed standalone; composition adds joins on doc_id
    only.

    Reference provenance: C6 chained pipeline (/root/reference/src/
    SinglePsramBuffer480x480.cpp:97-176 — capture -> transform ->
    publish as one loop; this is that chain for corpus curation)."""
    from presto_cached_examples_spark.operators.distwindows import global_rank, range_splits

    def curate():
        d = spread(load_table(spark, sf_dir, "documents"), spark)
        surv = (
            d.select(
                "doc_id",
                "source",
                "text",
                F.row_number()
                .over(Window.partitionBy(F.md5("text")).orderBy("doc_id"))
                .alias("rd"),
            )
            .filter(F.col("rd") == 1)
            .drop("rd")
        )
        # explicit repartition after the dedup window: AQE coalesces
        # the small post-window output to 1-2 partitions at RUNTIME
        # (static count is already 32, so spread() can't see it),
        # which would serialize the CPU-heavy bigram explode inside
        # _doc_surprisal — the q_dedup_ngram lesson; AQE honors
        # user-numbered repartitions
        surv = surv.repartition(spark.sparkContext.defaultParallelism)
        surv = surv.localCheckpoint(eager=False)  # feeds LM train AND verdict
        surp = _doc_surprisal(surv)
        thr = surp.agg(
            F.round(F.avg("s") + _PPL_SIGMAS * F.stddev_samp("s"), 4).alias("thr")
        )
        kept = (
            surv.select("doc_id", "source")
            .join(surp, "doc_id", "left")
            .join(F.broadcast(thr))
            .filter(F.col("s").isNull() | (F.col("s") <= F.col("thr")))
            .select("doc_id", "source")
        )
        return kept.localCheckpoint(eager=False)  # feeds weights AND ranks

    # The curated survivor set (post-dedup, post-perplexity-cut) is an
    # ingest-time artifact like the hourly tier: the dedup window + LM
    # scoring execute once per session, and every later build reuses
    # the checkpointed relation job-free.
    kept = memo(spark, sf_dir, "curation_kept", curate)
    w = kept.groupBy("source").agg(F.sqrt(F.count(F.lit(1))).alias("wt"))
    r = kept.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rnk"),
    )
    v = r.join(F.broadcast(w), "source").select(
        "doc_id", "source", ((F.col("rnk") - 0.5) / F.col("wt")).alias("vtime")
    )
    # Range-split points memoized per (session, sf): the split values
    # shape the plan, never the answer, so reusing them across builds
    # is free; the first build's sampling pass doubles as the
    # checkpoint materialization for surv/surp/kept.
    splits = memo(
        spark,
        sf_dir,
        "curation_splits",
        lambda: range_splits(v, "vtime"),
    )
    ranked = global_rank(v, "vtime", "doc_id", out_rank="pos", splits=splits)
    return ranked.select(
        F.col("pos").cast("long").alias("pos"), "doc_id", "source"
    )


q_curation_pipeline.__doc__ = q_curation_pipeline.__doc__.replace(
    "{s}", str(_PPL_SIGMAS)
)


def _ensemble_oracle() -> str:
    from presto_cached_examples_spark.llm.text import (
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_STOPS,
        _GOPHER_MIN_WORDS,
        _QW,
        _STOPWORDS,
    )

    return f"""
    WITH {_PPL_SURPRISAL_SQL},
    thr AS (
      SELECT ROUND(AVG(s) + {_PPL_SIGMAS} * STDDEV_SAMP(s), 4) AS thr FROM surp
    ),
    gates AS (
      SELECT d.doc_id, d.source,
             CASE WHEN len(string_split(d.text, ' '))
                       BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                   AND 2 * (length(d.text)
                            - (len(string_split(d.text, ' ')) - 1))
                       BETWEEN 8 * len(string_split(d.text, ' '))
                           AND 10 * len(string_split(d.text, ' '))
                   AND len(list_filter(string_split(d.text, ' '),
                                       w -> w IN ('the', 'a')))
                       >= {_GOPHER_MIN_STOPS}
                   AND 5 * len(list_distinct(string_split(d.text, ' ')))
                       >= 2 * len(string_split(d.text, ' '))
                  THEN 1 ELSE 0 END AS keep_rules,
             CASE WHEN 1.0 / (1.0 + EXP(-({_QW["bias"]}
                    + {_QW["distinct_ratio"]}
                      * (len(list_distinct(string_split(d.text, ' ')))::DOUBLE
                         / len(string_split(d.text, ' ')))
                    + {_QW["stopword_ratio"]}
                      * (len(list_filter(string_split(d.text, ' '),
                             t -> list_contains({list(_STOPWORDS)!r}, t)))::DOUBLE
                         / len(string_split(d.text, ' ')))
                    + {_QW["log_tokens"]}
                      * LN(len(string_split(d.text, ' ')))))) > 0.5
                  THEN 1 ELSE 0 END AS keep_model,
             CASE WHEN su.s IS NULL OR su.s <= t.thr
                  THEN 1 ELSE 0 END AS keep_lm
      FROM documents d
      LEFT JOIN surp su ON su.doc_id = d.doc_id
      CROSS JOIN thr t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(keep_rules) AS BIGINT) AS keep_rules,
           CAST(SUM(keep_model) AS BIGINT) AS keep_model,
           CAST(SUM(keep_lm) AS BIGINT) AS keep_lm,
           CAST(SUM(CASE WHEN keep_rules = keep_model
                          AND keep_model = keep_lm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unanimous,
           CAST(SUM(CASE WHEN keep_rules + keep_model + keep_lm >= 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS ensemble_kept,
           ROUND(SUM(CASE WHEN keep_rules + keep_model + keep_lm >= 2
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS ensemble_retention
    FROM gates GROUP BY source
    """


@register("q_quality_ensemble", category="llm-pipeline", oracle=_ensemble_oracle())
def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate ensemble (the DataComp/Dolma pattern: no single
    filter is trusted alone): three INDEPENDENT gate families — Gopher
    rules (q_quality_gopher's integer rule set), the frozen logistic
    model (q_quality_logistic at 0.5), and the corpus-self-trained
    bigram-LM perplexity cut (q_quality_ppl_filter at mean+1sigma) —
    voted 2-of-3 per document, reported per source with per-gate keep
    counts and the unanimity rate. Low unanimity on a source means the
    gates DISAGREE about it — exactly the slice a curator inspects by
    hand before shipping the mix.

    Scale: the rules and model gates are pure map-side expressions;
    the LM gate reuses the vocabulary-bounded model tables and the
    1-row broadcast threshold (q_quality_ppl_filter's plan); voting
    adds integer arithmetic inside the same per-source aggregate. One
    corpus scan for the gates plus the gram-keyed scoring join — no
    new shuffle class over running the three gates separately, and
    strictly less than running them as three jobs.

    Reference provenance: C7 multiple validity checks before publish
    (/root/reference/src/SinglePsramBuffer480x480.cpp:119-153 —
    active/moved and second-touch checks gate what reaches the
    buffer)."""
    from presto_cached_examples_spark.llm.text import (
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_STOPS,
        _GOPHER_MIN_WORDS,
        _GOPHER_STOPWORDS,
        _QW,
        _STOPWORDS,
    )

    d = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    n = F.size(toks)
    sumc = F.length("text") - (n - F.lit(1))
    nd = F.size(F.array_distinct(toks))
    sw = F.size(F.filter(toks, lambda w: w.isin(*_GOPHER_STOPWORDS)))
    keep_rules = F.when(
        n.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & (2 * sumc >= 8 * n)
        & (2 * sumc <= 10 * n)
        & (sw >= _GOPHER_MIN_STOPS)
        & (5 * nd >= 2 * n),
        1,
    ).otherwise(0)
    distinct_ratio = nd.cast("double") / n
    stopword_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n
    )
    logit = (
        F.lit(_QW["bias"])
        + F.lit(_QW["distinct_ratio"]) * distinct_ratio
        + F.lit(_QW["stopword_ratio"]) * stopword_ratio
        + F.lit(_QW["log_tokens"]) * F.log(n.cast("double"))
    )
    keep_model = F.when(1.0 / (1.0 + F.exp(-logit)) > 0.5, 1).otherwise(0)
    surp = _doc_surprisal(d, spark, sf_dir)
    thr = surp.agg(
        F.round(F.avg("s") + _PPL_SIGMAS * F.stddev_samp("s"), 4).alias("thr")
    )
    keep_lm = F.when(
        F.col("s").isNull() | (F.col("s") <= F.col("thr")), 1
    ).otherwise(0)
    gates = (
        d.select(
            "doc_id",
            "source",
            keep_rules.alias("keep_rules"),
            keep_model.alias("keep_model"),
        )
        .join(surp, "doc_id", "left")
        .join(F.broadcast(thr))
        .select(
            "source", "keep_rules", "keep_model", keep_lm.alias("keep_lm")
        )
    )
    votes = F.col("keep_rules") + F.col("keep_model") + F.col("keep_lm")
    return gates.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep_rules").cast("long").alias("keep_rules"),
        F.sum("keep_model").cast("long").alias("keep_model"),
        F.sum("keep_lm").cast("long").alias("keep_lm"),
        F.sum(
            F.when(
                (F.col("keep_rules") == F.col("keep_model"))
                & (F.col("keep_model") == F.col("keep_lm")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_unanimous"),
        F.sum(F.when(votes >= 2, 1).otherwise(0))
        .cast("long")
        .alias("ensemble_kept"),
        F.round(
            F.sum(F.when(votes >= 2, 1).otherwise(0)) / F.count(F.lit(1)), 4
        ).alias("ensemble_retention"),
    )
