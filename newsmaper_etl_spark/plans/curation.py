"""Declared queries for corpus-curation operators: repetition quality
signals, PII redaction, benchmark decontamination, mixture sampling,
sequence packing, and context-window chunking.

These extend the training-data-pipeline surface of plans/extensions.py
with the steps between "dedup" and "train": filter repetitive junk,
scrub PII, drop eval contamination, apply mixture weights, pack the
token budget, chunk to context windows. All are oracle-checked
(engine-portable arithmetic; floor-scaled ratios per the established
convention — ROUND on decimal ties diverges between engines).

Registered after the relational/extension corpus and before the
rows-only sketches: a budget-cut correctness run drops the weakest
checks first (see plans/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newsmaper_etl_spark.localrel import literal_df

from newsmaper_etl_spark.io import load_table
from newsmaper_etl_spark.operators import dedup as D
from newsmaper_etl_spark.operators import sampling as SP
from newsmaper_etl_spark.operators import text as TX
from newsmaper_etl_spark.plans.fixture_cache import plan_cached
from newsmaper_etl_spark.registry import query

# --------------------------------------------------------------------------
# Repetition / quality signals
# --------------------------------------------------------------------------

@query(
    "q_repetition_stats",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        per_doc AS (
            SELECT doc_id,
                   CASE WHEN len(t) > 0
                        THEN FLOOR(10000 * (1 - len(list_distinct(t)) / len(t)))
                        ELSE 0 END AS df_scaled
            FROM toks
        ),
        big AS (
            SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
            FROM toks, unnest(range(1, len(t))) u(i)
        ),
        cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg),
        agg AS (
            SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM cnt GROUP BY doc_id
        )
        SELECT p.doc_id,
               p.df_scaled / 10000 AS dup_token_frac,
               FLOOR(10000 * COALESCE(a.mx / a.tot, 0.0)) / 10000
                   AS top_bigram_frac
        FROM per_doc p LEFT JOIN agg a ON p.doc_id = a.doc_id
    """,
    tags=("TEXT", "CURATION"),
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition signals (dup-token fraction, top-bigram
    fraction) — the Gopher-style repetition gate, computed entirely
    within-row (sorted-array run-length fold, no explode, no shuffle);
    the oracle re-derives it via the portable explode+agg SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.repetition_stats(docs)


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# The synthetic corpus carries no PII, so both sides inject a
# deterministic payload first (same expression, same ids) — the check
# then exercises real multi-pattern scrubbing on non-trivial rows.
_PII_INJECT_SQL = """
    CASE WHEN doc_id % 7 = 0
             THEN text || ' contact user' || doc_id || '@example.com now'
         WHEN doc_id % 11 = 0
             THEN text || ' call +33 1-' || doc_id || '-5551212 today'
         ELSE text END
"""


def _pii_injected(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.withColumn(
        "text",
        F.when(
            did % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            did % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" call +33 1-"),
                did.cast("string"),
                F.lit("-5551212 today"),
            ),
        )
        .otherwise(F.col("text")),
    )


@query(
    "q_pii_redact",
    oracle=f"""
        WITH injected AS (
            SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '{TX.PII_EMAIL_RE}')) AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all(
                   regexp_replace(text, '{TX.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{TX.PII_PHONE_RE}')) AS INTEGER) AS n_phone,
               regexp_replace(
                   regexp_replace(text, '{TX.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{TX.PII_PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM injected
    """,
    tags=("TEXT", "CURATION"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone scrub with per-kind counts over deterministically
    injected payloads (patterns restricted to Java-regex ∩ RE2 so the
    oracle runs them verbatim)."""
    docs = _pii_injected(load_table(spark, sf_dir, "documents"))
    return TX.pii_redact(docs).select("doc_id", "n_email", "n_phone", "redacted")


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------

_CONTAMINATION_ORACLE = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    cg AS (
        SELECT DISTINCT doc_id, array_to_string(t[i : i + 7], ' ') AS g
        FROM toks, unnest(range(1, len(t) - 6)) u(i)
        UNION
        SELECT doc_id, array_to_string(t, ' ') FROM toks WHERE len(t) < 8
    ),
    etoks AS (
        SELECT doc_id + 1000000 AS doc_id, t[1 : 20] AS t
        FROM toks WHERE doc_id % 97 = 0
    ),
    eg AS (
        SELECT DISTINCT doc_id, array_to_string(t[i : i + 7], ' ') AS g
        FROM etoks, unnest(range(1, len(t) - 6)) u(i)
        UNION
        SELECT doc_id, array_to_string(t, ' ') FROM etoks WHERE len(t) < 8
    ),
    hits AS (
        SELECT DISTINCT c.doc_id AS id, c.g
        FROM cg c JOIN eg e ON c.g = e.g AND c.doc_id <> e.doc_id
    )
    SELECT id, COUNT(*) AS n_contam FROM hits GROUP BY id
"""


@query(
    "q_contamination",
    oracle=_CONTAMINATION_ORACLE,
    tags=("DEDUP", "CURATION"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-gram benchmark-overlap decontamination. The "benchmark" is
    synthesized the way real contamination happens: eval prompts (the
    first-20-token slice of every 97th doc, under fresh ids) that were
    scraped into the training corpus — so every eval doc's source is
    flagged with its shared-gram count, plus any coincidental overlaps."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 20), " ").alias("text"),
    )
    return D.contamination_check(docs, eval_df, n=8, hashed=False)


@query(
    "q_contamination_hashed",
    oracle=_CONTAMINATION_ORACLE,
    tags=("DEDUP", "CURATION"),
)
def q_contamination_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale decontamination variant (``hashed=True``): grams
    are 8-byte xxhash64 values over token hashes instead of materialized
    strings — ~6× less exploded volume, long-equality join keys. This is
    the documented default for 100 TB runs; the string path remains for
    portability/audit.

    Hash-checked against the STRING-gram oracle (upgraded from rows-only,
    VERDICT r05 'do this' #2): the output carries no engine-specific
    values — only (id, n_contam) — and hashing changes the counts only if
    two distinct grams collide in xxhash64 (~n²/2^64; none at any test
    SF, verified sf0.01 and sf0.1). The driver gate therefore asserts
    precisely the guarantee a user relies on: at this corpus, the hashed
    fast path flags the same docs with the same counts as the exact
    string path. q_contamination_parity additionally pins per-row
    equality of both paths inside one plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 20), " ").alias("text"),
    )
    return D.contamination_check(docs, eval_df, n=8, hashed=True)


@query(
    "q_contamination_parity",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE doc_id < 250
        ),
        cg AS (
            SELECT DISTINCT doc_id, array_to_string(t[i : i + 7], ' ') AS g
            FROM toks, unnest(range(1, len(t) - 6)) u(i)
            UNION
            SELECT doc_id, array_to_string(t, ' ') FROM toks WHERE len(t) < 8
        ),
        etoks AS (
            SELECT doc_id + 1000000 AS doc_id, t[1 : 20] AS t
            FROM toks WHERE doc_id % 97 = 0
        ),
        eg AS (
            SELECT DISTINCT doc_id, array_to_string(t[i : i + 7], ' ') AS g
            FROM etoks, unnest(range(1, len(t) - 6)) u(i)
            UNION
            SELECT doc_id, array_to_string(t, ' ') FROM etoks WHERE len(t) < 8
        ),
        hits AS (
            SELECT DISTINCT c.doc_id AS id, c.g
            FROM cg c JOIN eg e ON c.g = e.g AND c.doc_id <> e.doc_id
        )
        SELECT id, COUNT(*) AS n_contam, TRUE AS agree
        FROM hits GROUP BY id
    """,
    tags=("DEDUP", "CURATION"),
)
@plan_cached
def q_contamination_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked contract for the hashed decontamination path (VERDICT
    r04 'do this' #4): run the STRING-gram and HASHED-gram paths over the
    same corpus slice and emit, per flagged doc, the string count plus a
    per-row equality verdict. The oracle recomputes the string side and
    asserts the literal TRUE — so a hashed path that over-flags (a row
    the string path lacks), under-flags (a missing row), or miscounts
    produces a row-count or hash mismatch at the driver. This upgrades
    the builder-side parity test (tests/test_curation.py) into a
    driver-recorded contract; the slice keeps both passes bench-cheap."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    toks = F.split(F.col("text"), " ", -1)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 20), " ").alias("text"),
    )
    s = D.contamination_check(docs, eval_df, n=8, hashed=False).withColumnRenamed(
        "n_contam", "__n_s"
    )
    h = D.contamination_check(docs, eval_df, n=8, hashed=True).withColumnRenamed(
        "n_contam", "__n_h"
    )
    return s.join(h, on="id", how="full").select(
        "id",
        F.col("__n_s").alias("n_contam"),
        F.col("__n_s").eqNullSafe(F.col("__n_h")).alias("agree"),
    )


@query(
    "q_decontaminate_spans",
    oracle="""
        WITH ev AS (
            SELECT doc_id + 1000000 AS doc_id,
                   array_to_string((string_split(text, ' '))[1 : 20], ' ')
                       AS text
            FROM documents WHERE doc_id % 97 = 0
        ),
        etoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM ev),
        eg AS (
            SELECT DISTINCT doc_id AS eid,
                   array_to_string(t[i : i + 7], ' ') AS g
            FROM etoks, unnest(range(1, len(t) - 6)) u(i)
            WHERE len(t) >= 8
        ),
        ctoks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE doc_id < 2500
        ),
        cg AS (
            SELECT doc_id, i - 1 AS gpos,
                   array_to_string(t[i : i + 7], ' ') AS g
            FROM ctoks, unnest(range(1, len(t) - 6)) u(i)
            WHERE len(t) >= 8
        ),
        hits AS (
            SELECT DISTINCT c.doc_id, c.gpos
            FROM cg c JOIN eg e ON c.g = e.g AND c.doc_id <> e.eid
        ),
        covered AS (
            SELECT DISTINCT doc_id, gpos + j AS pos
            FROM hits, unnest(range(0, 8)) v(j)
        ),
        tokpos AS (
            SELECT doc_id, i - 1 AS pos, t[i] AS tok
            FROM ctoks, unnest(range(1, len(t) + 1)) u(i)
        ),
        kept AS (
            SELECT p.doc_id, p.pos, p.tok
            FROM tokpos p LEFT JOIN covered c
              ON c.doc_id = p.doc_id AND c.pos = p.pos
            WHERE c.doc_id IS NULL
        ),
        rebuilt AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY pos) AS text_dedup,
                   COUNT(*) AS kept_n
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CASE WHEN COALESCE(r.kept_n, 0) = len(t.t)
                    THEN d.text
                    ELSE COALESCE(r.text_dedup, '') END AS text_dedup,
               CAST(len(t.t) - COALESCE(r.kept_n, 0) AS INTEGER) AS n_removed
        FROM ctoks t
        JOIN documents d USING (doc_id)
        LEFT JOIN rebuilt r USING (doc_id)
    """,
    tags=("DEDUP", "CURATION", "SUBSTRING"),
)
def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL decontamination (redact, don't drop): the corpus with
    every 8-gram the planted benchmark snippets contain CUT from the
    text — operators.dedup.redact_contaminated_spans, the surgical
    counterpart of q_contamination's whole-doc flag. Eval = the
    q_contamination fixture (every 97th doc's first 20 tokens under a
    shifted id), so every eval snippet's span demonstrably comes back
    excised from its source doc while the rest of that doc survives —
    the drop-vs-redact difference a 50k-token page with one leaked
    question makes real. Deterministic end to end (exact gram logic;
    hashed grams vs the oracle's string grams is the
    q_contamination_hashed 2^-64 basis), text reassembly included."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 2500
    )
    toks = F.split(F.col("text"), " ", -1)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 20), " ").alias("text"),
    )
    from newsmaper_etl_spark.io import is_toy

    return D.redact_contaminated_spans(docs, eval_df, n=8,
                                       broadcast_cov=is_toy(sf_dir))


# --------------------------------------------------------------------------
# Mixture sampling / packing / chunking
# --------------------------------------------------------------------------

_RATES = {"en": 0.5, "fr": 0.25, "de": 0.1}
_DEFAULT_RATE = 0.05


@query(
    "q_temperature_sample",
    oracle=f"""
        WITH c AS (
            SELECT lang AS g, COUNT(*) AS n FROM documents
            WHERE lang IS NOT NULL GROUP BY lang
        ),
        t AS (SELECT SUM(POW(n, 0.5)) AS s, SUM(n) AS total FROM c),
        r AS (
            SELECT g,
                   LEAST(10000, CAST(FLOOR(ROUND(
                       POW(n, 0.5) / s * (0.5 * total) / n * 10000, 4
                   )) AS BIGINT)) AS thr
            FROM c, t
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN r ON r.g = d.lang
        WHERE {SP.mix_bucket_sql('doc_id')} < r.thr
    """,
    tags=("CURATION",),
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture subsampling (XLM-R/mT5 α-sampling,
    α=0.5, half-corpus budget): per-language keep rates derive from the
    α-flattened share n^α/Σn^α — the tail languages a raw-proportional
    mix starves get boosted relative shares — applied through the same
    deterministic id-bucket membership as q_stratified_sample. The
    oracle recomputes counts, shares, and the round-then-floor integer
    cutoffs from the same expression shape, so group arithmetic AND row
    membership are both driver-hashed."""
    docs = load_table(spark, sf_dir, "documents")
    return SP.temperature_sample(
        docs, "lang", alpha=0.5, budget_frac=0.5
    ).select("doc_id", "lang", "source")


@query(
    "q_stratified_sample",
    oracle=f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {SP.mix_bucket_sql('doc_id')} <
              (CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.25
                         WHEN 'de' THEN 0.1 ELSE 0.05 END) * 10000
    """,
    tags=("CURATION",),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mixture sampling: the id-derived bucket
    decides membership, so engine and oracle select the exact same rows
    (and re-runs are reproducible — the property dataset ablations need)."""
    docs = load_table(spark, sf_dir, "documents")
    return SP.stratified_sample(
        docs, "lang", _RATES, default_rate=_DEFAULT_RATE
    ).select("doc_id", "lang", "source")


@query(
    "q_token_pack",
    oracle="""
        WITH sized AS (
            SELECT doc_id, ANY_VALUE(source) AS source,
                   CAST(SUM(CAST(CEIL(len(w) / 4.0) AS BIGINT)) AS BIGINT)
                       AS n_bpe
            FROM (
                SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
                FROM documents
            )
            GROUP BY doc_id
        )
        SELECT doc_id, source, n_bpe,
               CAST(FLOOR(
                   (SUM(n_bpe) OVER (PARTITION BY source ORDER BY doc_id)
                    - n_bpe) / 2048) AS BIGINT) AS bin_id
        FROM sized
    """,
    tags=("CURATION",),
)
def q_token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: per-source cumulative BPE estimate
    → 2048-token training bins (one window shuffle, bins contiguous in
    stream order)."""
    docs = load_table(spark, sf_dir, "documents")
    sized = TX.token_count_bpe(docs).select("doc_id", "source", "n_bpe")
    return SP.pack_sequences(
        sized, size_col="n_bpe", budget=2048, stream_col="source", order_col="doc_id"
    )


@query(
    "q_pack_assemble",
    oracle="""
        WITH d AS (
            SELECT doc_id, source,
                   list_transform(range(1, 2 + doc_id % 4),
                                  i -> CAST((doc_id + i) % 11 AS INT))
                       AS ids
            FROM documents
        ),
        c AS (
            SELECT doc_id, source, ids,
                   SUM(len(ids)) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - len(ids) AS cb
            FROM d
        )
        SELECT source, CAST(FLOOR(cb / 8) AS BIGINT) AS bin_id,
               string_agg(array_to_string(ids, '|') || '|99', '|'
                          ORDER BY doc_id) AS seq
        FROM c GROUP BY source, bin_id
    """,
    tags=("CURATION", "SAMPLING"),
)
def q_pack_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence ASSEMBLY (operators.sampling.
    assemble_sequences — the step after bin assignment that a
    dataloader shards to disk): deterministic synthetic id arrays
    (length 1–4, values (doc_id+i) % 11) pack into 8-token bins per
    source, then each bin's arrays concatenate in doc order with the
    end-of-document sentinel 99 after EVERY document. The full
    flattened id stream of every bin is driver-hashed via the
    '|'-joined rendering — a collect-order leak (missing sort), a
    boundary-sentinel slip, a straddle-rule drift, or a flatten
    reorder changes some bin's byte stream and flips the hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d = F.col("doc_id")
    ids = F.transform(
        F.sequence(F.lit(1), F.lit(1) + (d % 4).cast("int")),
        lambda i: ((d + i) % 11).cast("int"),
    )
    sized = docs.select(
        "doc_id", "source", ids.alias("ids"), F.size(ids).alias("n")
    )
    binned = SP.pack_sequences(
        sized, size_col="n", budget=8, stream_col="source",
        order_col="doc_id",
    )
    seq = SP.assemble_sequences(
        binned, ids_col="ids", bin_col="bin_id", stream_col="source",
        order_col="doc_id", out="__ids", eod_id=99,
    )
    return seq.select(
        "source", "bin_id",
        F.array_join(
            F.transform("__ids", lambda x: x.cast("string")), "|"
        ).alias("seq"),
    )


@query(
    "q_sample_per_group",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY {SP.mix_bucket_sql('doc_id')}, doc_id
                   ) AS rn
            FROM documents
        )
        SELECT doc_id, source FROM ranked WHERE rn <= 5
    """,
    tags=("CURATION",),
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-per-source balanced draw (the per-domain cap /
    eval-set shape of reservoir sampling, made reproducible by ranking on
    the id-derived mix bucket)."""
    docs = load_table(spark, sf_dir, "documents")
    return SP.sample_per_group(docs, group_col="source", k=5).select(
        "doc_id", "source"
    )


@query(
    "q_budget_select",
    oracle=f"""
        WITH cum AS (
            SELECT doc_id, source, n_chars,
                   SUM(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY {SP.mix_bucket_sql('doc_id')}, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_chars
            FROM documents
        )
        SELECT doc_id, source, CAST(cum_chars AS BIGINT) AS cum_chars
        FROM cum WHERE cum_chars <= 5000
    """,
    tags=("CURATION", "SAMPLING"),
)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (operators.sampling.budget_select —
    "fill each source's slice of the mix to 5000 chars"): first-fit
    over the deterministic mix-bucket order, running total inclusive of
    the candidate, no partial docs. The kept set AND each row's running
    total are driver-hashed, so an off-by-one at the budget boundary
    (< vs <=), an order drift, or a NULL-handling change flips the
    hash. ``n_chars`` stands in for the token count — the operator is
    metric-agnostic (any non-negative numeric column spends budget)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    kept = SP.budget_select(
        docs, tokens_col="n_chars", budget=5000, group_col="source"
    )
    # re-derive the running total for the output surface (the operator
    # drops its scratch column; the contract wants it visible)
    w = (
        Window.partitionBy("source")
        .orderBy(SP.mix_bucket("doc_id"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return kept.withColumn(
        "cum_chars",
        F.sum(F.coalesce(F.col("n_chars").cast("long"), F.lit(0))).over(w),
    ).select("doc_id", "source", "cum_chars")


@query(
    "q_shuffle_rank",
    oracle=f"""
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY {SP.mix_bucket_sql('doc_id')}, doc_id
               ) AS BIGINT) AS rank
        FROM documents
    """,
    tags=("CURATION", "SAMPLING"),
)
def q_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order (operators.sampling.
    shuffle_rank — the final pre-shard training shuffle): the oracle
    states the semantics as ONE global ROW_NUMBER; the engine computes
    the identical rank scalably (bucket-count prefix offsets + per-
    bucket windows — never a single-partition global window). Every
    (doc, rank) pair is driver-hashed, so an offset error, a bucket
    boundary slip, or an LCG drift flips the hash."""
    from newsmaper_etl_spark.io import is_toy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # toy cutover (SCALE.md toy-switch rule): identical output, the
    # two-level machinery only amortizes past ~10^5 rows
    return SP.shuffle_rank(docs, two_level=not is_toy(sf_dir)).select(
        "doc_id", "source", "rank"
    )


# NFC parity needs non-ASCII input; the corpus is ASCII, so both sides
# inject a decomposed 'a' + COMBINING ACUTE (U+0301) on every 13th doc —
# NFC must re-compose it to 'á' identically in pandas and DuckDB.
@query(
    "q_normalize_text",
    oracle="""
        SELECT doc_id,
               trim(regexp_replace(
                   lower(nfc_normalize(
                       CASE WHEN doc_id % 13 = 0
                            THEN replace(text, 'a', 'a' || chr(769))
                            ELSE text END)),
                   '[ \\t\\n\\r\\f]+', ' ', 'g')) AS norm
        FROM documents
    """,
    tags=("TEXT", "CURATION"),
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC + lowercase + whitespace collapse — the sanctioned
    pandas-UDF path (no JVM Unicode normalizer), oracle-checked against
    DuckDB's nfc_normalize on injected decomposed characters."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.regexp_replace(F.col("text"), "a", "a\u0301"),
        ).otherwise(F.col("text")),
    )
    return TX.normalize_text(injected).select("doc_id", "norm")


@query(
    "q_chunk_docs",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        )
        SELECT doc_id AS id, CAST(i AS INTEGER) AS chunk_id,
               array_to_string(t[i * 50 + 1 : i * 50 + 50], ' ') AS chunk_text,
               CAST(len(string_split(
                   array_to_string(t[i * 50 + 1 : i * 50 + 50], ' '), ' '))
                   AS INTEGER) AS n_chunk_tokens
        FROM toks,
             unnest(range(0, CAST(CEIL(len(t) / 50.0) AS BIGINT))) u(i)
    """,
    tags=("CURATION",),
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: fixed 50-token windows, one output row
    per chunk (generator projection — no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return SP.chunk_documents(docs, chunk_tokens=50)

# --------------------------------------------------------------------------
# UDTF surface (Spark 4 Python user-defined table function)
# --------------------------------------------------------------------------

@query(
    "q_udtf_chunks",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        )
        SELECT doc_id AS id, CAST(i AS INTEGER) AS chunk_id,
               array_to_string(t[i * 50 + 1 : i * 50 + 50], ' ') AS chunk_text
        FROM toks,
             unnest(range(0, CAST(CEIL(len(t) / 50.0) AS BIGINT))) u(i)
    """,
    tags=("CURATION", "UDF"),
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same chunking semantics as q_chunk_docs, via a Spark 4 Python
    UDTF under a LATERAL join — completing the §2.9 extension surface
    (scalar pandas_udf / grouped applyInPandas / table-valued udtf), each
    hash-checked against the same oracle as its JVM twin.

    The JVM generator (q_chunk_docs) is the production path; a UDTF is
    per-row Python and belongs only where row-to-rows logic genuinely
    can't be expressed with JVM expressions.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id: int, chunk_text: string")
    class ChunkUDTF:
        def eval(self, text: str):  # noqa: D102 — row → chunk rows
            toks = (text or "").split(" ")
            for i in range(0, len(toks), 50):
                yield i // 50, " ".join(toks[i : i + 50])

    spark.udtf.register("__chunk_udtf", ChunkUDTF)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_udtf_in")
    return spark.sql(
        """
        SELECT d.doc_id AS id, c.chunk_id, c.chunk_text
        FROM __docs_udtf_in d, LATERAL __chunk_udtf(d.text) c
        """
    )

# --------------------------------------------------------------------------
# Corpus vocabulary / term weighting
# --------------------------------------------------------------------------

@query(
    "q_vocab_topk",
    oracle="""
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> ''
        GROUP BY w
        ORDER BY c DESC, w
        LIMIT 50
    """,
    tags=("TEXT", "CURATION"),
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency (explode → count →
    TakeOrderedAndProject; deterministic (count DESC, token ASC) order).
    The first step of any tokenizer/vocab build over a corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ", -1)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(50)
    )


@query(
    "q_rare_tokens",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        freq AS (SELECT w, COUNT(*) AS cf FROM toks GROUP BY w)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(MIN(cf) AS BIGINT) AS min_cf,
               CAST(SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rare,
               FLOOR(10000 * SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END)
                     / COUNT(*)) / 10000 AS rare_ratio
        FROM toks JOIN freq USING (w)
        GROUP BY doc_id
    """,
    tags=("TEXT", "CURATION"),
)
def q_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token density per document against the corpus's own unigram
    distribution — the hash-portable core of an LM quality gate
    (operators/text.py rare_token_stats; the smoothed-NLL variant is the
    same ranking under a monotone transform but ln() is not ulp-portable
    across engines, so the contract rides the exact integer statistics).
    Plan: token-keyed frequency aggregate, join back, doc-keyed
    aggregate — both shuffles on keys that scale."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.rare_token_stats(docs).select(
        "doc_id", "n_tokens", "min_cf", "n_rare", "rare_ratio"
    )


@query(
    "q_tfidf_topterms",
    oracle="""
        WITH tf AS (
            SELECT doc_id, w, COUNT(*) AS tf
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            )
            GROUP BY doc_id, w
        ),
        dfreq AS (
            SELECT w, COUNT(*) AS dfreq FROM (SELECT DISTINCT doc_id, w FROM tf)
            GROUP BY w
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.w,
                   tf.tf * n.n_docs / dfreq.dfreq AS raw
            FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, w, raw,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY raw DESC, w
                   ) AS rnk
            FROM scored
        )
        SELECT doc_id, w, FLOOR(10000 * raw) / 10000 AS tfidf, rnk
        FROM ranked WHERE rnk <= 3
    """,
    tags=("TEXT", "CURATION"),
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.

    IDF is the UNLOGGED ratio N/df: ln() differs in the last ulp between
    JVM and libm implementations, which would break hash-compare — the
    ranking is identical for any monotone transform, so the log adds
    nothing the oracle could check. Plan: two hash aggregates (term
    frequency, document frequency), the scalar corpus count broadcast
    via cross join, and a per-doc top-3 window — every stage shuffles on
    a key that scales (doc_id or token), nothing collects.

    The explode+groupBy(doc_id, w) TF is the measured RIGHT shape, not
    an oversight: partial (map-side) aggregation compacts the shuffle to
    one row per distinct (doc, term) per partition — a doc's rows live
    in one partition, so the network sees the HISTOGRAM, never the token
    stream. The within-row-histogram variant
    (operators.text.term_counts) emits the same rows but pays
    interpreted HOF sort+filter where Tungsten's codegen hash-agg is
    faster (measured 4.5 vs 3.5 s at sf1.0; r07 notes). Within-row only
    wins when partial agg CANNOT compact — per-doc-distinct keys like
    repetition_stats' bigrams. test_tfidf_plan_partial_agg pins the
    map-side partial aggregate this argument rests on.

    tf is lazily localCheckpoint-ed (r13): it feeds TWO consumers (the
    join's left side and the dfreq aggregate), and under AQE the two
    canonically-identical exchanges do NOT get a ReusedExchange — each
    consumer becomes its own query stage before reuse can apply, so the
    scan + explode + TF aggregate ran TWICE (profiled: exchange
    hashpartitioning(doc_id, w) appears twice in the executed plan;
    the r10 ledger's "exchange is reused" claim was stale). One
    materialization halves the query: 3.07 → 0.79 s at sf1.0 on the
    same box (DuckDB 0.77 — ratio ~1.0×, from 3.3×). The persisted
    frame is the per-doc term HISTOGRAM (the same multi-reference
    contract as curate.py's span-stage checkpoint; corpus-scaled, so it
    spills MEMORY_AND_DISK at real SF — the price of single
    evaluation, cheaper than a second corpus scan at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    from newsmaper_etl_spark.io import is_toy

    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    if not is_toy(sf_dir):
        # toy-switch (SCALE.md rule): the checkpoint's fixed
        # materialization cost (~0.2 s) exceeds the double evaluation
        # it prevents on a 5k-doc cached-table corpus; at sf1.0 it
        # saved 2.3 s — flip at the toy boundary, identical output
        tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dfreq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, on="w")
        .crossJoin(F.broadcast(n))
        .withColumn("raw", F.col("tf") * F.col("n_docs") / F.col("dfreq"))
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("raw"), F.asc("w"))
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "w",
            (F.floor(F.lit(10000) * F.col("raw")) / 10000).alias("tfidf"),
            "rnk",
        )
    )


#: q_epoch_upsample's planted mix: src0 upsampled 2.5x (2 copies + a
#: deterministic half), src1 halved, src2 dropped, everything else 1x.
_EPOCH_WEIGHTS = {"src0": 2.5, "src1": 0.5, "src2": 0.0}


def _epoch_parts_sql() -> tuple[str, str]:
    """Render the (floor, fractional-bucket-cutoff) CASE pair from the
    operator's OWN arithmetic (imported, not re-implemented: a rounding
    tweak in one copy would silently desync engine and oracle)."""
    from newsmaper_etl_spark.operators.sampling import epoch_weight_parts as parts

    db, dt = parts(1.0)
    base = "CASE source " + " ".join(
        f"WHEN '{g}' THEN {parts(w)[0]}"
        for g, w in sorted(_EPOCH_WEIGHTS.items())
    ) + f" ELSE {db} END"
    thr = "CASE source " + " ".join(
        f"WHEN '{g}' THEN {parts(w)[1]}"
        for g, w in sorted(_EPOCH_WEIGHTS.items())
    ) + f" ELSE {dt} END"
    return base, thr


_EPOCH_BASE_SQL, _EPOCH_THR_SQL = _epoch_parts_sql()


@query(
    "q_epoch_upsample",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, source,
                   ({_EPOCH_BASE_SQL})
                   + (CASE WHEN {SP.mix_bucket_sql('doc_id')}
                           < ({_EPOCH_THR_SQL}) THEN 1 ELSE 0 END) AS n
            FROM documents
        )
        SELECT doc_id, source,
               CAST(unnest(range(0, n)) AS BIGINT) AS epoch
        FROM w WHERE n >= 1
    """,
    tags=("CURATION",),
)
def q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch mixture materialization (operators.sampling.
    epoch_upsample — the Llama-recipe 'see source g w_g times'
    upsampling): src0 at 2.5x (two full copies + a deterministic
    id-bucket half), src1 halved, src2 dropped, the rest 1x. Every
    emitted (doc, epoch) copy is driver-hashed, so a copy-count drift,
    a cutoff rounding slip, or a descending-sequence leak on the
    zero-copy branch flips the hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return SP.epoch_upsample(docs, _EPOCH_WEIGHTS, "source").select(
        "doc_id", "source", F.col("epoch").cast("long").alias("epoch")
    )


@query(
    "q_quantile_gate",
    oracle="""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, n_tok,
                   RANK() OVER (PARTITION BY source ORDER BY n_tok ASC)
                       AS r,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM scored
        )
        SELECT doc_id, source, n_tok
        FROM ranked
        WHERE (r - 1) * 10000 >= 7000 * (n - 1)
    """,
    tags=("CURATION",),
)
def q_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile quality gate (operators.sampling.
    quantile_gate — the CCNet adaptive-threshold rule: keep the top
    30% BY SCORE WITHIN each source, so low-resource groups are never
    over-pruned by a global cutoff): token count as the score, ties
    abundant by construction (integer token counts over a small range)
    so the rank()-tie boundary semantics are exercised at every SF.
    The boundary test is pure integer arithmetic in BOTH engines —
    (rank−1)·10⁴ ≥ 7000·(n−1) — and every surviving (doc, source,
    score) row is driver-hashed."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tok"),
    )
    return SP.quantile_gate(docs, "n_tok", "source", keep_frac=0.3).select(
        "doc_id", "source", "n_tok"
    )


# --------------------------------------------------------------------------
# Model-informed selection: DSIR importance resampling, classifier gate
# --------------------------------------------------------------------------

from newsmaper_etl_spark.operators import selection as SEL  # noqa: E402

#: Planted unigram log-ratio table for the DSIR/classifier contracts.
#: Every value is an EXACT binary fraction (2^-k multiples), so the
#: per-doc fold is exact in IEEE-754 under ANY summation order — the
#: driver hash cannot ride on float associativity (see
#: operators/selection.py module notes).
_DSIR_W = {
    "spark": 0.5,
    "query": 0.25,
    "data": 0.25,
    "vector": 0.125,
    "the": 0.125,
    "slow": -0.5,
    "batch": -0.25,
    "hash": -0.125,
}
_DSIR_MISS = -0.03125

_DSIR_LOGW_SQL = SEL.token_logweight_sql("text", _DSIR_W, missing=_DSIR_MISS)


@query(
    "q_dsir_weights",
    oracle=f"""
        SELECT doc_id, source,
               FLOOR(10000 * ({_DSIR_LOGW_SQL})) / 10000 AS logw
        FROM documents
    """,
    tags=("CURATION", "SELECTION"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR unigram importance weights (operators.selection.
    dsir_log_weights, map-literal path — Xie et al. 2023's
    target-vs-raw bag-of-tokens log-likelihood ratio): one JVM
    projection, zero shuffle, every doc's weight driver-hashed. The
    planted log-ratio table is exact-binary-fraction valued, so the
    fold is bit-exact in both engines and a single mis-weighted or
    mis-defaulted token flips the hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return SEL.dsir_log_weights(docs, _DSIR_W, missing=_DSIR_MISS).select(
        "doc_id",
        "source",
        (F.floor(F.lit(10000) * F.col("logw")) / 10000).alias("logw"),
    )


@query(
    "q_dsir_select",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, source, ({_DSIR_LOGW_SQL}) AS lw
            FROM documents
        )
        SELECT doc_id, source, FLOOR(10000 * lw) / 10000 AS logw
        FROM w
        ORDER BY (lw + {SEL.gumbel_sql('doc_id', 7)}) DESC, doc_id
        LIMIT 100
    """,
    tags=("CURATION", "SELECTION"),
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel top-k resampling (operators.selection.dsir_select):
    100 docs drawn without replacement with P ∝ exp(logw), as ONE
    deterministic top-k over logw + Gumbel(id, seed) — planned as
    TakeOrderedAndProject (per-partition top-k, no global sort). The
    selected SET is the contract: a drift in the LCG mixer, the Gumbel
    transform, or the tie-break changes which docs survive and flips
    the driver hash. Key gaps on this corpus are ~1e-3; the only
    cross-engine float wobble (libm ln, ≤1 ulp) is 12 orders of
    magnitude below them."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = SEL.dsir_log_weights(docs, _DSIR_W, missing=_DSIR_MISS)
    return SEL.dsir_select(scored, 100, seed=7).select(
        "doc_id",
        "source",
        (F.floor(F.lit(10000) * F.col("logw")) / 10000).alias("logw"),
    )


_CLF_SCORE_SQL = SEL.classifier_score_sql(
    "text", _DSIR_W, bias=0.03125, missing=_DSIR_MISS
)


@query(
    "q_classifier_gate",
    oracle=f"""
        SELECT doc_id, source,
               FLOOR(10000 * ({_CLF_SCORE_SQL})) / 10000 AS score
        FROM documents
        WHERE ({_CLF_SCORE_SQL}) >= 0.0
    """,
    tags=("CURATION", "SELECTION"),
)
def q_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier gate (operators.selection.
    classifier_gate — fastText-style shallow classifier in logit
    space): keep docs whose mean token weight + bias clears
    logit(0.5) = 0 exactly, so the comparison has NO transcendental.
    The sum is exact-binary, the mean is one IEEE division of
    identical operands, and survivors' quantized scores are
    driver-hashed — a weight, OOV-default, bias, or boundary slip
    flips it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return SEL.classifier_gate(
        docs, _DSIR_W, bias=0.03125, missing=_DSIR_MISS, threshold=0.5
    ).select(
        "doc_id",
        "source",
        (F.floor(F.lit(10000) * F.col("score")) / 10000).alias("score"),
    )


@query(
    "q_dsir_weights_join",
    oracle=f"""
        SELECT doc_id, source,
               FLOOR(10000 * ({_DSIR_LOGW_SQL})) / 10000 AS logw
        FROM documents
    """,
    tags=("CURATION", "SELECTION"),
)
def q_dsir_weights_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR scoring's BROADCAST-JOIN path (the >2048-entry form:
    explode → broadcast weight join → one groupBy on the id) driven
    against the SAME oracle as the map-literal path — two independent
    engine implementations cross-checked row by row under the driver
    hash (the q_psl_domain pattern). A missing-token default slip, a
    join-type error (inner instead of left drops OOV tokens), or a
    groupBy that loses empty-text docs flips the hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    wdf = literal_df(spark, 
        sorted(_DSIR_W.items()), "token string, logw double"
    )
    return SEL.dsir_log_weights(docs, wdf, missing=_DSIR_MISS).select(
        "doc_id",
        "source",
        (F.floor(F.lit(10000) * F.col("logw")) / 10000).alias("logw"),
    )


@query(
    "q_dsir_hashed_parity",
    oracle="SELECT doc_id, CAST(1 AS BOOLEAN) AS same FROM documents",
    tags=("CURATION", "SELECTION"),
)
def q_dsir_hashed_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked contract for the HASHED scoring path (the
    contamination_parity pattern): the xxhash64-keyed join and the
    string-keyed join must score every document identically, and the
    oracle asserts the literal TRUE — a hashed-path divergence (key
    collision handling, missing-token default, join-type slip) shows
    up as a row whose `same` is FALSE, flipping the driver hash. This
    upgrades the hashed path from unit-tested to driver-gated."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wdf = literal_df(spark, 
        sorted(_DSIR_W.items()), "token string, logw double"
    )
    s = SEL.dsir_log_weights(
        docs, wdf, missing=_DSIR_MISS, out_col="lw_s"
    ).select("doc_id", "lw_s")
    h = SEL.dsir_log_weights(
        docs, wdf, missing=_DSIR_MISS, out_col="lw_h", hashed=True
    ).select("doc_id", "lw_h")
    return s.join(h, "doc_id").select(
        "doc_id", (F.col("lw_s") == F.col("lw_h")).alias("same")
    )


@query(
    "q_dsir_learn",
    oracle="""
        WITH tgt AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT unnest(string_split('arxiv arxiv proof lemma', ' '))
        ),
        raw AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT unnest(string_split('spam click spam banner', ' '))
        ),
        tc AS (SELECT token, COUNT(*) AS ct FROM tgt GROUP BY token),
        rc AS (SELECT token, COUNT(*) AS cr FROM raw GROUP BY token),
        j AS (
            SELECT COALESCE(tc.token, rc.token) AS token,
                   COALESCE(ct, 0) AS ct, COALESCE(cr, 0) AS cr
            FROM tc FULL JOIN rc ON tc.token = rc.token
        ),
        tot AS (
            SELECT SUM(ct) AS tt, SUM(cr) AS tr, COUNT(*) AS v FROM j
        )
        SELECT token, CAST(ct AS BIGINT) AS ct, CAST(cr AS BIGINT) AS cr,
               FLOOR(10000 * LN(
                   ((CAST(ct AS DOUBLE) + 0.5)
                    * (CAST(tr AS DOUBLE) + 0.5 * v))
                   / ((CAST(cr AS DOUBLE) + 0.5)
                      * (CAST(tt AS DOUBLE) + 0.5 * v))
               )) / 10000 AS logw
        FROM j, tot
    """,
    tags=("CURATION", "SELECTION"),
)
def q_dsir_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR weight ESTIMATION (operators.selection.dsir_learn_weights
    — the add-α unigram log-likelihood-ratio of Xie et al. 2023,
    learned live from a target slice vs the raw pool, with planted
    target-only and raw-only docs so both smoothing extremes are
    exercised): every token's raw counts AND its quantized log-ratio
    are driver-hashed against an independent SQL replay of the same
    estimator. The ratio is assembled with the identical association
    on both engines, so the only cross-engine float is libm ln
    (≤1 ulp, 8 orders below the 1e-4 floor-scale). A count slip, a
    smoothing drift, a vocab-size (V) mis-count, or a totals swap
    flips the hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tgt = docs.filter(F.col("doc_id") % 7 == 0).select("text").unionByName(
        literal_df(spark, [("arxiv arxiv proof lemma",)], "text string")
    )
    raw = docs.filter(F.col("doc_id") % 7 != 0).select("text").unionByName(
        literal_df(spark, [("spam click spam banner",)], "text string")
    )
    out = SEL.dsir_learn_weights(tgt, raw)
    return out.select(
        "token", "ct", "cr",
        (F.floor(F.lit(10000) * F.col("logw")) / 10000).alias("logw"),
    )


@query(
    "q_dsir_incremental",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, source, ({_DSIR_LOGW_SQL}) AS lw
            FROM documents
        )
        SELECT doc_id, source, FLOOR(10000 * lw) / 10000 AS logw
        FROM w
        ORDER BY (lw + {SEL.gumbel_sql('doc_id', 11)}) DESC, doc_id
        LIMIT 60
    """,
    tags=("CURATION", "SELECTION", "INCREMENTAL"),
)
def q_dsir_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DSIR selection (operators.selection.
    dsir_select_incremental_batched — the _gumbel side-table
    composition, VERDICT r14 'do this' #6): the corpus arrives as
    THREE batches (doc_id % 3), each reduced to its k-row candidate
    state exactly as the streaming _gumbel index does, and the oracle
    states the EQUIVALENCE CONTRACT literally — the FULL-corpus Gumbel
    top-k. Exact because the Gumbel key is a pure per-row function, so
    ``topk(S ∪ T) == topk(topk(S) ∪ T)``; a fold that loses an evicted
    candidate too early, double-counts a batch, or drifts the
    tie-break selects a different set and flips the driver hash. The
    r16 batched fold (chained ≡ flattened, same identity) merges the
    three candidate states through ONE sort+limit instead of three
    sequential single-partition exchanges."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Batched fold (r16): the three per-batch candidate top-ks run in
    # parallel and merge through ONE final sort+limit instead of three
    # sequential single-partition exchanges — provably the same state
    # (dsir_select_incremental_batched docstring; the oracle IS the
    # full-corpus equivalence contract).
    state = SEL.dsir_select_incremental_batched(
        [
            SEL.dsir_log_weights(
                docs.filter(F.col("doc_id") % 3 == b),
                _DSIR_W, missing=_DSIR_MISS,
            )
            for b in range(3)
        ],
        60, seed=11,
    )
    return state.select(
        F.col("id").alias("doc_id"),
        (F.floor(F.lit(10000) * F.col("logw")) / 10000).alias("logw"),
    ).join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id", "source", "logw"
    )


_SPLIT_FRACS = {"train": 0.9, "val": 0.05, "test": 0.05}


@query(
    "q_holdout_split",
    oracle=f"""
        SELECT doc_id, source,
               {SP.holdout_split_sql('doc_id', _SPLIT_FRACS)} AS split
        FROM documents
    """,
    tags=("CURATION", "SAMPLING"),
)
def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators.sampling.
    holdout_split — 90/5/5 here so every label is populated at every
    SF): one LCG mix + integer-boundary CASE per row, zero shuffle,
    every (doc, split) pair driver-hashed. A mixer drift, a boundary
    rounding slip, or a label-order change reassigns rows and flips
    the hash — exactly the failure that silently migrates eval docs
    into train between corpus rebuilds."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return SP.holdout_split(docs, _SPLIT_FRACS)
