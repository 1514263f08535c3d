"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in JVM expressions (split/aggregate/filter
higher-order functions) — no Python in the per-row path, so every operator
whole-stage-codegens and scales linearly with input splits. These
generalize the reference's token hygiene (Transform.py:15-17) to the
document-corpus surface mandated by the north star.

Operators:
- tokenize           whitespace tokenization (reference semantics: single
                     literal space, no punctuation stripping)
- token_stats        n_tokens / avg token length / stopword ratio
- language_id        stopword-vote heuristic (argmax language, pinned
                     tie-break), default 'und'
- quality_score      length + punctuation-density + stopword-ratio score
- token_count_bpe    cheap BPE-ish subword estimate: ceil(len(w)/4) summed
- fingerprint        order-aware document fingerprint (position-weighted
                     token hash, engine-portable: no xxhash dependency)
- repetition_stats   within-doc repetition signals (dup-token fraction,
                     top-bigram fraction) — the Gopher-style quality gate
- pii_redact         email/phone scrub with redaction counts
- normalize_text     Unicode NFC + casefold + whitespace collapse (the
                     one sanctioned pandas-UDF hot path here: the JVM has
                     no Unicode-normalization builtin)
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf string type hints resolve here

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the vote heuristic. Deliberately
#: small + lowercase; extend per deployment. Order-free: the vote uses a
#: pinned tie-break (count DESC, lang ASC).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "fr": ("le", "la", "les", "de", "et", "est", "un"),
    "es": ("el", "la", "los", "de", "y", "es", "un"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu"),
}

_ALL_STOPWORDS = tuple(sorted({w for ws in STOPWORDS.values() for w in ws}))


def tokens_col(col: str | Column) -> Column:
    """Whitespace tokens (single literal space — reference F3 semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ", -1)


def _qcol(col: str) -> str:
    """Backtick-quoted column reference for SQL-string expression
    assembly (the one-parse py4j-latency fix, f59449b:OPTIMIZATION_r15.md
    Fix 5). The expr-built operators take column NAMES, as every
    in-repo caller already does."""
    if not isinstance(col, str):
        raise TypeError(
            "expression-string operators take a column name, got "
            f"{type(col).__name__}"
        )
    return "`" + col.replace("`", "``") + "`"


def tokenize(df: DataFrame, col: str = "text", out: str = "tokens") -> DataFrame:
    return df.withColumn(out, tokens_col(col))


def token_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document token statistics, all in one projection (no shuffle).

    Assembled as parsed SQL strings (r16, the Fix-5 technique — the
    two HOF lambdas plus the 25-literal stopword array were ~0.12 s of
    py4j round trips per recipe build); trees, literal types
    (INT 0 cast BIGINT accumulator, INT scale factors), and the
    floor-scaling are term-for-term the Column-algebra form's.

    floor-scaled instead of ROUND: ROUND(x, d) on a decimal tie (e.g.
    4.475) differs between JVM (shortest-repr half-up → 4.48) and
    engines rounding the raw binary double (4.47…). floor of an exact
    integer-scaled quotient is bit-identical everywhere."""
    from pyspark.sql import types as T

    from newsmaper_etl_spark.localrel import _sql_lit

    toks = f"split({_qcol(col)}, ' ', -1)"
    total_len = (
        f"aggregate({toks}, CAST(0 AS BIGINT), (acc, w) -> acc + length(w))"
    )
    arr = ", ".join(_sql_lit(w, T.StringType()) for w in _ALL_STOPWORDS)
    n_stop = f"size(filter({toks}, w -> array_contains(array({arr}), w)))"
    return (
        df.withColumn("n_tokens", F.expr(f"CAST(size({toks}) AS BIGINT)"))
        .withColumn(
            "avg_token_len",
            F.expr(f"FLOOR(100 * {total_len} / size({toks})) / 100"),
        )
        .withColumn(
            "stopword_ratio",
            F.expr(f"FLOOR(10000 * {n_stop} / size({toks})) / 10000"),
        )
    )


def language_id(
    df: DataFrame, col: str = "text", out: str = "lang_pred", default: str = "und"
) -> DataFrame:
    """Stopword-vote language ID.

    For each language, count how many tokens are in its stopword list (a
    per-row array intersection — zero shuffles, zero UDFs); predict the
    argmax with the pinned tie-break (count DESC, lang ASC); no hit at all
    → ``default``. The same shape as the reference's country vote
    (Transform.py:14-29) applied to language detection.
    """
    # one struct per language: (-count, lang). sort_array orders struct
    # elements field-by-field ascending, so the head is (max count, min
    # lang) — the pinned argmax tie-break (count DESC, lang ASC).
    # Assembled as ONE SQL string parsed JVM-side: the per-language
    # Column-algebra form cost ~80 py4j round trips per call (~0.2 s of
    # plan-construction latency paid by every recipe build —
    # f59449b:OPTIMIZATION_r15.md Fix 5); the parsed expression tree, types and
    # tie-break are identical.
    from pyspark.sql import types as T

    from newsmaper_etl_spark.localrel import _sql_lit

    toks_sql = f"split({_qcol(col)}, ' ', -1)"
    structs = []
    for lang in sorted(STOPWORDS):
        # words through the shared SQL-literal escaper (ADVICE r15 #3:
        # STOPWORDS invites per-deployment extension, and an
        # apostrophe-bearing word — French elisions — must not break or
        # inject into the parsed expression); identical rendering for
        # the current ASCII lists
        arr = ", ".join(_sql_lit(w, T.StringType()) for w in STOPWORDS[lang])
        cnt = (
            f"size(filter({toks_sql}, w -> array_contains(array({arr}), w)))"
        )
        structs.append(
            f"named_struct('neg', CAST(-({cnt}) AS INT), "
            f"'lang', {_sql_lit(lang, T.StringType())})"
        )
    best = F.expr(f"sort_array(array({', '.join(structs)}), true)[0]")
    return df.withColumn(
        out, F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit(default))
    )


def quality_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Cheap document-quality heuristics: length band + punctuation density
    + stopword ratio, combined into [0, 1]. Thresholds are heuristic; the
    value is the *shape* (pure column expressions, pushdown-friendly).

    Ratios are floor-scaled, not ROUND()ed: ROUND on a decimal tie differs
    between JVM shortest-repr half-up and engines rounding the raw binary
    double, while floor of an integer-scaled quotient is bit-identical
    everywhere (same convention as token_stats). Thresholds compare the
    RAW ratios, so scaling never flips a branch.
    """
    toks = tokens_col(col)
    n = F.size(toks)
    text_len = F.length(col)
    n_punct = text_len - F.length(F.translate(col, ".,;:!?'\"", ""))
    punct_ratio = F.when(text_len > 0, n_punct / text_len).otherwise(F.lit(0.0))
    # stopword membership as ONE parsed expression — the 25-literal
    # F.array build was ~30 py4j round trips per call (Fix 5); parsed
    # tree and values identical. Words through the shared escaper
    # (ADVICE r15 #3).
    from pyspark.sql import types as T

    from newsmaper_etl_spark.localrel import _sql_lit

    arr = ", ".join(_sql_lit(w, T.StringType()) for w in _ALL_STOPWORDS)
    n_stop = F.expr(
        f"size(filter(split({_qcol(col)}, ' ', -1), "
        f"w -> array_contains(array({arr}), w)))"
    )
    stop_ratio = F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))
    len_ok = F.when((text_len >= 20) & (text_len <= 10000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.5)
    score = (
        len_ok * 0.4 + punct_ok * 0.3 + F.least(stop_ratio * 3, F.lit(1.0)) * 0.3
    )
    return (
        df.withColumn("punct_ratio", F.floor(F.lit(10000) * punct_ratio) / 10000)
        .withColumn("stopword_ratio", F.floor(F.lit(10000) * stop_ratio) / 10000)
        .withColumn("quality", F.floor(F.lit(10000) * score) / 10000)
    )


def token_count_bpe(df: DataFrame, col: str = "text", out: str = "n_bpe") -> DataFrame:
    """BPE-ish token estimate: every ~4 characters of a word is one
    subword (the industry rule-of-thumb for byte-pair vocabularies) —
    sum(ceil(len(w)/4)). Exact tokenizers are model-specific; pipelines
    budget with estimates like this."""
    # one parsed expression (r16 Fix-5 sweep; the 4.0 divisor stays a
    # DOUBLE literal — a bare SQL `4.0` would parse as DECIMAL and
    # change the division/ceil types)
    est = (
        f"aggregate(split({_qcol(col)}, ' ', -1), CAST(0 AS BIGINT), "
        "(acc, w) -> acc + CEIL(length(w) / CAST(4.0 AS DOUBLE)))"
    )
    return df.withColumn(out, F.expr(est))


#: regex-path vocab bound for :func:`bpe_tokenize` — past this, the
#: compiled alternation stops being the fast path (Java's NFA tries
#: alternatives per position) and the Arrow engine's hash-set lookup
#: wins; the cap forces the caller to choose explicitly.
_BPE_REGEX_MAX_VOCAB = 2048

#: the separator set shared by the vocab validation, the regex OOV
#: fallback class, and the Arrow scanners — ONE definition so the
#: "what is whitespace" question can never drift between them
#: (ADVICE r13).
_BPE_SEPARATORS = " \t\n\r\f"


def bpe_vocab_pattern(vocab: Iterable[str]) -> str:
    """The greedy longest-match tokenizer as ONE regex: vocab entries
    quoted and ordered by DESCENDING length (ties lexicographic), with
    a single-non-space-char fallback for out-of-vocab bytes. Both Java
    regex and RE2 use leftmost-FIRST alternation semantics, so at each
    scan position the longest matching vocab token wins in BOTH
    engines — the WordPiece/greedy-BPE segmentation rule as a plain
    ``regexp_extract_all``, no loop, no UDF, and the DuckDB oracle
    runs the IDENTICAL pattern (one source of truth, the
    :data:`WS_COLLAPSE_RE` rule). Tokens must be non-empty and contain
    no whitespace (tokens never cross word boundaries); the WHOLE
    validated whitespace set — space, tab, LF, CR, FF — is a zero-cost
    separator: the OOV fallback class excludes exactly the characters
    the vocab validation forbids, so a tab or newline never counts as
    a token (ADVICE r13: ``[^ ]`` silently billed non-space whitespace
    into n_tok, inflating budget_select/pack_sequences)."""
    from newsmaper_etl_spark.operators.dedup import _regex_quote

    toks = sorted(set(vocab), key=lambda t: (-len(t), t))
    if not toks:
        raise ValueError("bpe_tokenize: empty vocab")
    for t in toks:
        if not t or any(c in t for c in _BPE_SEPARATORS):
            raise ValueError(
                f"bpe_tokenize: vocab token {t!r} is empty or contains "
                "whitespace (tokens must stay inside word boundaries)"
            )
    return (
        "(" + "|".join(_regex_quote(t) for t in toks) + r"|[^ \t\n\r\f])"
    )


def bpe_tokenize(
    df: DataFrame,
    vocab: Iterable[str],
    col: str = "text",
    out: str = "n_tok",
    tokens_out: str | None = None,
    engine: str = "regex",
) -> DataFrame:
    """EXACT greedy longest-match subword tokenization against a fixed
    vocab — the honest token unit for :func:`~newsmaper_etl_spark.
    operators.sampling.budget_select` / ``pack_sequences`` /
    ``chunk_documents``, which all consume a token-count column that
    :func:`token_count_bpe` only ESTIMATES (ceil(len/4), ±25% on real
    text — a budget filled with that error is a real mis-mix at
    training time; VERDICT r12 missing #2). Out-of-vocab characters
    count one token each (the byte-fallback convention); the whole
    validated whitespace set (:data:`_BPE_SEPARATORS` — space, tab, LF,
    CR, FF) is a free separator in BOTH engines; NULL text stays NULL.

    ``engine='regex'`` (default): the segmentation runs as ONE JVM
    ``regexp_extract_all`` over the :func:`bpe_vocab_pattern`
    alternation — no shuffle, fuses into the scan, and the DuckDB
    oracle replays the identical pattern (q_bpe_tokenize drives the
    full token LIST through the driver hash). Bounded to
    ``_BPE_REGEX_MAX_VOCAB`` entries. ``engine='arrow'``: the
    sanctioned Arrow path for production-size vocabs (a 50k-merge BPE
    table compiles poorly as an NFA alternation) — a pandas UDF with a
    length-bucketed hash-set, vocab shipped once per executor in the
    UDF closure. Both engines are parity-pinned by tests on the same
    inputs. Documented subset: counts are per Unicode BMP char for
    out-of-vocab runs (supplementary-plane characters count 2 in the
    regex engine — UTF-16 code units — vs 1 in Arrow; keep astral
    glyphs out of the vocab and prefer 'arrow' for emoji-heavy
    corpora)."""
    toks = sorted(set(vocab), key=lambda t: (-len(t), t))
    c = F.col(col)
    if engine == "regex":
        if len(toks) > _BPE_REGEX_MAX_VOCAB:
            raise ValueError(
                f"bpe_tokenize: {len(toks)} vocab entries exceeds the "
                f"regex-path bound {_BPE_REGEX_MAX_VOCAB}; use "
                "engine='arrow'"
            )
        pat = bpe_vocab_pattern(toks)
        arr = F.regexp_extract_all(c, F.lit(pat), F.lit(1))
    elif engine == "arrow":
        bpe_vocab_pattern(toks)  # reuse its validation
        vset = frozenset(toks)
        maxlen = max(len(t) for t in toks)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def _seg(s: pd.Series) -> pd.Series:
            def one(text: str | None) -> list[str] | None:
                if text is None:
                    return None
                res: list[str] = []
                i, n = 0, len(text)
                while i < n:
                    if text[i] in _BPE_SEPARATORS:
                        i += 1
                        continue
                    for k in range(min(maxlen, n - i), 0, -1):
                        if text[i : i + k] in vset:
                            res.append(text[i : i + k])
                            i += k
                            break
                    else:
                        res.append(text[i])
                        i += 1
                return res

            return s.map(one)

        arr = _seg(c)
    else:
        raise ValueError(f"bpe_tokenize: unknown engine {engine!r}")
    if tokens_out is not None:
        df = df.withColumn(tokens_out, arr)
        arr = F.col(tokens_out)
    n = F.when(c.isNull(), F.lit(None).cast("long")).otherwise(
        F.size(arr).cast("long")
    )
    return df.withColumn(out, n)


def bpe_merge_ranks(
    merges: Sequence[tuple[str, str]],
) -> dict[tuple[str, str], int]:
    """Validate a BPE merges table and return its rank map. A table is
    WELL-FORMED when every merge side is a single character or the
    product of an EARLIER merge (the shape every trained BPE table has
    — GPT-2's merges.txt, Llama's tokenizer.model both satisfy it by
    construction). Well-formedness is what makes the encode semantics
    unambiguous: any pair involving a merged token necessarily ranks
    AFTER the merge that created the token, so "merge the leftmost
    occurrence of the lowest-rank pair, repeat" (the oracle's one-step
    recursion) and "merge ALL occurrences of the lowest-rank pair,
    repeat" (the classic GPT-2 loop) converge to the same
    segmentation. Parts must be non-empty and whitespace-free
    (:data:`_BPE_SEPARATORS` — words never merge across boundaries)."""
    ranks: dict[tuple[str, str], int] = {}
    produced: set[str] = set()
    for i, (left, right) in enumerate(merges):
        for part in (left, right):
            if not part or any(c in part for c in _BPE_SEPARATORS):
                raise ValueError(
                    f"bpe_merge_ranks: part {part!r} of merge {i} is "
                    "empty or contains whitespace"
                )
            if len(part) > 1 and part not in produced:
                raise ValueError(
                    f"bpe_merge_ranks: merge {i} uses multi-char part "
                    f"{part!r} that no earlier merge produces — table "
                    "is not well-formed (encode order would be "
                    "ambiguous)"
                )
        if (left, right) in ranks:
            raise ValueError(
                f"bpe_merge_ranks: duplicate merge {(left, right)!r}"
            )
        ranks[(left, right)] = i
        produced.add(left + right)
    if not ranks:
        raise ValueError("bpe_merge_ranks: empty merges table")
    return ranks


def byte_unicode_table() -> dict[int, str]:
    """The GPT-2 byte-to-unicode table (Radford et al. 2019, public
    ``bytes_to_unicode``): a bijection from the 256 byte values onto
    printable unicode chars — printable latin-1 bytes (``!``–``~``,
    ``¡``–``¬``, ``®``–``ÿ``) map to themselves, the rest (controls,
    space, DEL, 0xAD) shift up past U+0100. This is what lets BPE
    merges operate on BYTES while the merges table stays a readable
    string table (GPT-2's merges.txt convention): any UTF-8 text maps
    to a whitespace-free single-char-per-byte string, so the existing
    char-level merge machinery applies unchanged."""
    keep = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    table: dict[int, str] = {b: chr(b) for b in keep}
    n = 0
    for b in range(256):
        if b not in table:
            table[b] = chr(256 + n)
            n += 1
    return table


def bpe_merge_tokenize(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    col: str = "text",
    out: str = "n_tok",
    tokens_out: str | None = None,
    byte_level: bool = False,
) -> DataFrame:
    """TRUE merge-rank BPE segmentation — the GPT-2/Llama encode rule
    (apply the LOWEST-RANK merge present, repeat), which segments
    differently from :func:`bpe_tokenize`'s greedy longest-match
    (WordPiece) semantics: greedy takes the longest vocab token at each
    position, merge-rank replays the training merges in order ("the" →
    ``[th, e]`` greedy vs ``[t, he]`` when (h,e) outranks (t,h)) — so
    token budgets computed against a REAL model tokenizer need this
    form (VERDICT r13 missing #2). Each whitespace-separated word
    starts as characters and adjacent pairs merge in rank order until
    none remains in the table; words never merge across whitespace
    (:data:`_BPE_SEPARATORS`); out-of-table characters survive as
    single tokens; NULL text stays NULL.

    Plan: ONE Arrow-batched pandas UDF projection (iterative pair
    merging is inherently loop-shaped — the sanctioned Arrow path, the
    bpe_tokenize 'arrow' engine's sibling), no shuffle, merges table
    shipped once per executor in the closure, with a per-batch word
    cache (natural-language word frequency is Zipfian: the cache turns
    the per-word loop into a dict hit for the bulk of a batch). The
    DuckDB oracle (q_bpe_merge_rank) replays the identical semantics
    as a recursive CTE over the SAME planted table.

    ``byte_level=True`` — GPT-2/Llama BYTE-level BPE (VERDICT r14
    missing #2): each word is UTF-8-encoded and mapped through
    :func:`byte_unicode_table` BEFORE merging, so non-ASCII text
    ("été" → ``Ã©tÃ©``) segments the way the real model tokenizers
    segment it, and emitted tokens are in the byte-unicode alphabet
    (the merges.txt convention — consume tables from
    ``bpe_train(byte_level=True)``). Documented divergence from GPT-2
    proper: this family's word boundary is the shared whitespace rule
    (:data:`_BPE_SEPARATORS` as free separators), not GPT-2's
    regex pre-tokenizer with Ġ-encoded spaces — whitespace bytes never
    enter the byte stream."""
    ranks = bpe_merge_ranks(merges)
    seps = _BPE_SEPARATORS
    inf = float("inf")
    btab = byte_unicode_table() if byte_level else None
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _seg(s: pd.Series) -> pd.Series:
        one = _merge_text_fn(ranks, seps, btab)
        return s.map(one)

    c = F.col(col)
    arr = _seg(c)
    if tokens_out is not None:
        df = df.withColumn(tokens_out, arr)
        arr = F.col(tokens_out)
    n = F.when(c.isNull(), F.lit(None).cast("long")).otherwise(
        F.size(arr).cast("long")
    )
    return df.withColumn(out, n)


def _merge_text_fn(
    ranks: dict[tuple[str, str], int],
    seps: str,
    btab: dict[int, str] | None,
):
    """Build the per-text merge-rank segmenter both Arrow kernels
    (:func:`bpe_merge_tokenize`, :func:`bpe_encode_ids`) map over a
    batch: whitespace words → (optional byte-unicode mapping) → the
    GPT-2 lowest-rank-first merge loop, with a per-batch Zipf word
    cache. Closure-local state only — safe to instantiate per batch."""
    inf = float("inf")
    cache: dict[str, list[str]] = {}

    def word_tokens(word: str) -> list[str]:
        hit = cache.get(word)
        if hit is not None:
            return hit
        if btab is not None:
            toks = [btab[b] for b in word.encode("utf-8")]
        else:
            toks = list(word)
        while len(toks) > 1:
            best = inf
            best_i = -1
            for i in range(len(toks) - 1):
                r = ranks.get((toks[i], toks[i + 1]), inf)
                if r < best:
                    best, best_i = r, i
            if best_i < 0:
                break
            toks[best_i:best_i + 2] = [
                toks[best_i] + toks[best_i + 1]
            ]
        cache[word] = toks
        return toks

    table = str.maketrans(seps, " " * len(seps))

    def one(text: str | None) -> list[str] | None:
        if text is None:
            return None
        res: list[str] = []
        for word in text.translate(table).split(" "):
            if word:
                res.extend(word_tokens(word))
        return res

    return one


def bpe_vocab_ids(
    merges: Sequence[tuple[str, str]],
) -> dict[str, int]:
    """The closed token→id vocabulary of a BYTE-level merges table:
    base byte tokens get ids 0–255 BY RAW BYTE VALUE (via
    :func:`byte_unicode_table`), merge products get ``256 + rank``.
    Deterministic and self-describing — id < 256 IS the byte, id ≥ 256
    indexes merges.txt — the property that makes an id stream
    decodable without a separate vocab file. (GPT-2's published
    encoder.json orders base bytes by its table-construction order
    instead; same closure, different permutation — documented
    divergence.) Closed only at byte level: every emitted token is a
    single byte-unicode char or a product of a table merge, so OOV ids
    cannot occur. Char-level tables have an open base alphabet and are
    rejected."""
    ranks = bpe_merge_ranks(merges)  # well-formedness: multi-char
    # parts are earlier products, so only SINGLE chars can introduce
    # alphabet members — check those against the byte alphabet
    btab = byte_unicode_table()
    base = set(btab.values())
    vocab: dict[str, int] = {ch: b for b, ch in btab.items()}
    for (left, right), r in ranks.items():
        for part in (left, right):
            if len(part) == 1 and part not in base:
                raise ValueError(
                    f"bpe_vocab_ids: part {part!r} is outside the "
                    "byte-unicode alphabet — ids are only closed for "
                    "byte-level tables (bpe_train(byte_level=True))"
                )
        if left + right in vocab:
            # two pairs concatenating to one string ((a,bc) then
            # (ab,c)) would make the token→id map ambiguous
            raise ValueError(
                f"bpe_vocab_ids: merge {r} re-produces token "
                f"{left + right!r} — ids would be ambiguous"
            )
        vocab[left + right] = 256 + r
    return vocab


def bpe_encode_ids(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    col: str = "text",
    out: str = "token_ids",
) -> DataFrame:
    """Encode text to TOKEN IDS under a byte-level merges table — the
    array<int> column sequence packing / budget selection consume in a
    training-data pipeline (tokens are for people, ids are for
    models). One Arrow projection: the same merge kernel as
    :func:`bpe_merge_tokenize(byte_level=True)` plus an O(1) dict
    lookup per token into :func:`bpe_vocab_ids`'s closed vocabulary —
    no second pass, no join, no OOV path (the closure argument in
    bpe_vocab_ids). NULL text stays NULL."""
    ranks = bpe_merge_ranks(merges)
    vocab = bpe_vocab_ids(merges)
    seps = _BPE_SEPARATORS
    btab = byte_unicode_table()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _enc(s: pd.Series) -> pd.Series:
        one = _merge_text_fn(ranks, seps, btab)

        def ids(text: str | None) -> list[int] | None:
            toks = one(text)
            if toks is None:
                return None
            return [vocab[t] for t in toks]

        return s.map(ids)

    return df.withColumn(out, _enc(F.col(col)))


def bpe_decode_ids(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    col: str = "token_ids",
    out: str = "text",
) -> DataFrame:
    """Decode a token-id array back to text — the inverse of
    :func:`bpe_encode_ids` up to whitespace: ids map to token strings
    through the closed vocab, concatenate into one byte-unicode
    string, map back through the inverted :func:`byte_unicode_table`,
    and UTF-8-decode. Exact inverse for single-word inputs; multi-word
    inputs decode with the word boundaries GONE (encode treats
    whitespace as out-of-band free separators — GPT-2 proper
    round-trips spaces only because its pre-tokenizer keeps them as Ġ
    bytes; documented divergence, pinned by the round-trip tests).
    One Arrow projection; NULL stays NULL."""
    vocab = bpe_vocab_ids(merges)
    inv = {i: t for t, i in vocab.items()}
    rev = {ch: b for b, ch in byte_unicode_table().items()}
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _dec(s: pd.Series) -> pd.Series:
        def one(ids) -> str | None:
            if ids is None:
                return None
            chars = "".join(inv[int(i)] for i in ids)
            return bytes(rev[c] for c in chars).decode("utf-8")

        return s.map(one)

    return df.withColumn(out, _dec(F.col(col)))


def bpe_train(
    df: DataFrame,
    col: str = "text",
    n_merges: int = 100,
    *,
    min_pair_freq: int = 2,
    max_words: int = 1_000_000,
    byte_level: bool = False,
) -> list[tuple[str, str]]:
    """Learn a BPE merges table FROM the corpus (Sennrich et al. 2016)
    — the training half of the tokenization family (:func:`bpe_tokenize`
    / :func:`bpe_merge_tokenize` consume what this produces; the output
    is well-formed by construction and round-trips through
    :func:`bpe_merge_ranks`).

    Plan shape (the HF-tokenizers approach, which is what makes this
    scale): tokenizer training never needs the corpus — it needs the
    WORD-FREQUENCY table, which is one distributed explode → groupBy
    (corpus-sized shuffle ONCE, output vocabulary-sized), capped at
    ``max_words`` by frequency (Zipf: the tail it drops is hapax noise).
    The merge loop then runs driver-side over that bounded table —
    n_merges × |words| work on ≤``max_words`` rows, the sanctioned
    bounded-cardinality collect. At 100 TB the shuffle is the only
    corpus-scale stage and it is a plain partial-aggregated word count.

    Determinism: pair selection is (count DESC, pair lexicographic ASC)
    — pinned so two runs (and the planted oracle) produce the identical
    table. Each merge rewrites words LEFT-TO-RIGHT, non-overlapping
    (the classic loop). Training stops early when no pair reaches
    ``min_pair_freq`` (merging hapax pairs memorizes the corpus).
    Words are whitespace-separated (:data:`_BPE_SEPARATORS` — the same
    boundary the encoders use; pairs never span words).

    ``byte_level=True`` trains GPT-2-style BYTE-level merges: each
    word in the frequency table is UTF-8-encoded and mapped through
    :func:`byte_unicode_table` before the merge loop (a driver-side
    projection of the ALREADY-bounded vocabulary — the corpus-scale
    word count is unchanged), so the learned table segments non-ASCII
    text the way real model tokenizers do and feeds
    ``bpe_merge_tokenize(byte_level=True)`` directly."""
    if n_merges < 1:
        raise ValueError("bpe_train: n_merges must be >= 1")
    sep_class = "[" + "".join("\\x%02x" % ord(c) for c in _BPE_SEPARATORS) + "]+"
    words = (
        df.select(F.explode(F.split(F.col(col), sep_class, -1)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w").asc())
        .limit(int(max_words))
        .collect()
    )
    if byte_level:
        btab = byte_unicode_table()
        entries = [
            ([btab[b] for b in r["w"].encode("utf-8")], int(r["freq"]))
            for r in words
        ]
    else:
        entries = [(list(r["w"]), int(r["freq"])) for r in words]
    return _bpe_merge_loop(entries, int(n_merges), int(min_pair_freq))


def _bpe_merge_loop(
    entries: list[tuple[list[str], int]],
    n_merges: int,
    min_pair_freq: int,
) -> list[tuple[str, str]]:
    """The driver-side merge loop with INCREMENTAL pair counts (the
    HF-tokenizers structure — VERDICT r14 'do this' #2): per merge,
    only the words CONTAINING the merged pair are rescanned (a
    pair→word-ids index says which), and the argmax is a lazy max-heap
    instead of a full re-count. The r14 form re-counted EVERY pair over
    the whole vocabulary per merge — O(n_merges × Σ|parts|) driver
    Python, days for a real 32k-merge run; this form is
    O(Σ_affected |parts| + log-factor heap churn) per merge (measured
    in SCALE.md r15). Output is IDENTICAL by construction: same
    (count DESC, pair lexicographic ASC) selection, same left-to-right
    non-overlapping rewrite, same overlapping-occurrence counting,
    same early stops — pinned by q_bpe_train_planted and the
    naive-loop parity property test.

    Distinct words can never converge to the same parts tuple (the
    concatenation of parts IS the word), so per-word-id state is
    exactly equivalent to the r14 form's parts-tuple-keyed dict."""
    import heapq

    words = [parts for parts, _ in entries]
    freqs = [freq for _, freq in entries]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wid, parts in enumerate(words):
        f = freqs[wid]
        for i in range(len(parts) - 1):
            p = (parts[i], parts[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(wid)
    # lazy heap: (-count, pair); stale entries (count drifted since
    # push) are skipped on pop — every count CHANGE pushes a fresh
    # entry, so the live maximum is always present
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    def bump(p: tuple[str, str], delta: int) -> None:
        c = pair_counts.get(p, 0) + delta
        if c <= 0:
            pair_counts.pop(p, None)
        else:
            pair_counts[p] = c
            heapq.heappush(heap, (-c, p))

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best: tuple[str, str] | None = None
        while heap:
            negc, p = heap[0]
            if pair_counts.get(p) != -negc:
                heapq.heappop(heap)  # stale
                continue
            best = p
            break
        if best is None or pair_counts[best] < min_pair_freq:
            break
        left, right = best
        merged = left + right
        for wid in sorted(pair_words.pop(best, ())):
            parts = words[wid]
            f = freqs[wid]
            out: list[str] = []
            i = 0
            while i < len(parts):
                if (
                    i + 1 < len(parts)
                    and parts[i] == left
                    and parts[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(parts[i])
                    i += 1
            old_pairs = [
                (parts[i], parts[i + 1]) for i in range(len(parts) - 1)
            ]
            new_pairs = [(out[i], out[i + 1]) for i in range(len(out) - 1)]
            for p in old_pairs:
                bump(p, -f)
            for p in new_pairs:
                bump(p, f)
            for p in set(old_pairs) - set(new_pairs):
                ws = pair_words.get(p)
                if ws is not None:
                    ws.discard(wid)
                    if not ws:
                        del pair_words[p]
            for p in set(new_pairs) - set(old_pairs):
                pair_words.setdefault(p, set()).add(wid)
            words[wid] = out
        pair_counts.pop(best, None)
        merges.append((left, right))
    return merges


def fingerprint(df: DataFrame, col: str = "text", out: str = "fp") -> DataFrame:
    """Order-aware document fingerprint.

    Position-weighted token feature: sum over tokens of
    ``position * (ascii(first_char) + 131 * length)``. Reorderings and
    edits change it; it is engine-portable (unlike xxhash64/md5-based
    rolling hashes, any SQL engine reproduces it bit-for-bit, which keeps
    it oracle-checkable). For adversarial dedup use minhash/simhash in
    operators/dedup.py instead.
    """
    # one parsed expression (r16 Fix-5 sweep); tree and types identical
    # to the Column-algebra form (position cast BIGINT, INT weights)
    toks = f"split({_qcol(col)}, ' ', -1)"
    fp = (
        f"aggregate(zip_with(sequence(1, size({toks})), {toks}, "
        "(i, w) -> CAST(i AS BIGINT) * (ascii(substring(w, 1, 1)) "
        "+ 131 * length(w))), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return df.withColumn(out, F.expr(fp))


def repetition_stats(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals — the filters repetitive
    machine-generated text fails (the "repetition" rules of the Gopher /
    MassiveText quality pipeline, re-expressed relationally):

    - ``dup_token_frac``: 1 - distinct_tokens/total_tokens. Pure per-row
      array expression, no shuffle.
    - ``top_bigram_frac``: occurrences of the most frequent bigram /
      total bigrams. top_bigram_frac is a PER-DOCUMENT statistic, so it
      is computed entirely WITHIN the row: sort the bigram array
      (O(m log m)) and fold it once with ``F.aggregate``, tracking the
      longest equal-run — the max run of a sorted array IS the max
      bigram frequency. Zero shuffle, zero explode: the r06 shape
      exploded (id, bigram) rows and shuffled every bigram through a
      two-level aggregate (4.3× the oracle at sf1.0; VERDICT r06 #4) —
      per-document work should never cross the network. Not the per-row
      O(m·d) distinct×filter scan either: a pathological 1M-token
      document costs m log m comparisons, not 10¹².

    Bigrams are equality-only material (sorted, compared, never shown),
    so they are ``xxhash64(tok_i, tok_i+1)`` LONGS, not concatenated
    strings — the sort+fold compares 8-byte values instead of ~15-char
    strings, measured 3.33 → 2.40 s for the whole core at sf1.0 (the
    first within-row form sorted strings and re-evaluated the unbound
    bigram expression per reference — 7.5 s, slower than the explode it
    replaced; binding ``__bg`` once and hashing fixed both). A hash
    collision merging two distinct bigrams into one run would need
    ~2⁶⁴ bigrams in one doc to matter (per-doc probability ~m²/2⁶⁴) —
    the contamination_check(hashed=True) trade, applied to a sort key.

    Output fractions are floor-scaled to 4 decimals (oracle convention).
    The DuckDB oracle keeps the exploded two-level-aggregate form over
    STRING bigrams (portable SQL), which doubles as an independent
    derivation — including of the hashing trick.
    """
    # bind the token array ONCE as a named column: size, array_distinct,
    # and the token-hash transform below all reference it, and an inline
    # split() would be re-evaluated per reference (the HOF recompute
    # pitfall — same fix as dedup.py::minhash_signature)
    tmp = df.withColumn("__t", tokens_col(col))
    t = F.col("__t")
    n = F.size(t)
    dup_frac = F.when(
        n > 0, 1 - F.size(F.array_distinct(t)) / n
    ).otherwise(F.lit(0.0))

    # token hashes bound once; bigram i ↦ xxhash64(tok_i, tok_i+1) longs
    # via a slice-pair zip (n<2 → empty, so no descending-sequence or
    # out-of-range hazard). Bound as __bg because THREE references
    # follow (the fold input and two size()s) — an unbound HOF
    # expression re-evaluates per reference.
    tmp = tmp.withColumn(
        "__th", F.transform(t, lambda w: F.xxhash64(w))
    )
    th = F.col("__th")
    tmp = tmp.withColumn(
        "__bg",
        F.when(
            n >= 2,
            F.zip_with(
                F.slice(th, 1, n - 1),
                F.slice(th, 2, n - 1),
                lambda a, b: F.xxhash64(a, b),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    bigrams = F.col("__bg")
    # max bigram frequency = longest equal-run of the SORTED bigram
    # array: one fold carrying (prev, current run, max run). The run==0
    # guard makes the first element unconditionally start a run, so no
    # sentinel value can collide with a real bigram hash.
    zero = F.lit(0).cast("long")
    max_freq = F.aggregate(
        F.array_sort(bigrams),
        F.struct(zero.alias("prev"), zero.alias("run"), zero.alias("mx")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when((acc["run"] > 0) & (x == acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["mx"],
                F.when((acc["run"] > 0) & (x == acc["prev"]), acc["run"] + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("mx"),
        ),
        lambda acc: acc["mx"],
    )
    top_frac = F.when(
        F.size(bigrams) > 0, max_freq / F.size(bigrams)
    ).otherwise(F.lit(0.0))
    return tmp.select(
        F.col(id_col),
        (F.floor(F.lit(10000) * dup_frac) / 10000).alias("dup_token_frac"),
        (F.floor(F.lit(10000) * top_frac) / 10000).alias("top_bigram_frac"),
    )


def term_counts(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, term, tf) rows via a WITHIN-ROW term histogram — computed
    per row (sort the token array O(m log m), take the END index of each
    equal-run via ``filter(sequence, i -> i = n OR st[i] != st[i+1])``,
    read each run's term and length from consecutive boundaries), then
    exploded as one narrow row per DISTINCT term per doc with NO
    exchange anywhere in the plan (asserted in tests).

    Know when to use it: for a plain tf aggregate feeding shuffled
    consumers, explode+groupBy(id, w) is NOT the naive-looking
    token-stream shuffle it reads as — partial (map-side) aggregation
    compacts it to the same per-doc histogram rows before the network,
    in Tungsten codegen that beats this form's interpreted HOFs
    (measured 1.6 vs 2.3 s at sf1.0; q_tfidf_topterms uses it and pins
    the partial agg in a plan test). This operator is for consumers
    that need tf rows WITHOUT a shuffle boundary — inline gates,
    per-doc reassembly, single-pass pipelines — and for per-doc-distinct
    keys where partial agg cannot compact (cf. repetition_stats, where
    the within-row fold wins 3.2 vs 5.3 s).

    Not the O(m·d) transform(distinct, w -> size(filter(t, =w))) scan
    either — a pathological 1M-token document costs m log m, not 10¹².
    """
    tmp = df.select(
        F.col(id_col), F.array_sort(tokens_col(col)).alias("__st")
    )
    st = F.col("__st")
    n = F.size(st)
    # try_element_at: the i+1 probe runs off the end at i = n, and ANSI
    # mode (Spark 4 default) makes plain element_at THROW there; OR gives
    # no short-circuit guarantee. TRUE | NULL = TRUE keeps the last run's
    # boundary.
    ends = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == n)
        | (F.element_at(st, i) != F.try_element_at(st, i + 1)),
    )
    e = F.col("__ends")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(e)),
        lambda j: F.struct(
            F.element_at(st, F.element_at(e, j)).alias("w"),
            (
                F.element_at(e, j)
                # CASE evaluates branches lazily, so element_at never
                # sees the invalid index 0 at the first run
                - F.when(j == 1, F.lit(0)).otherwise(F.element_at(e, j - 1))
            ).cast("long").alias("tf"),
        ),
    )
    return (
        tmp.withColumn("__ends", ends)
        .select(F.col(id_col), F.explode(pairs).alias("__p"))
        .select(id_col, F.col("__p.w").alias("w"), F.col("__p.tf").alias("tf"))
    )


#: PII patterns kept to constructs with identical semantics in Java
#: regex (Spark) and RE2 (DuckDB): literal classes, bounded repeats — no
#: lookaround, no backrefs.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9][0-9\-() ]{6,}[0-9]"


def pii_redact(
    df: DataFrame, col: str = "text", out: str = "redacted"
) -> DataFrame:
    """Scrub emails and international-format phone numbers, appending the
    redacted text plus per-kind match counts. Pure regexp projection —
    no shuffle, fuses into the scan; at corpus scale this is the shape a
    PII pass must have (single pass, no Python)."""
    c = F.col(col)
    # Every regex pass is gated behind a literal substring probe: an
    # email match REQUIRES '@' and a phone match REQUIRES '+', and
    # contains() is a memchr-style scan ~10-100x cheaper than a Java
    # regex pass over the same bytes. On a clean-majority corpus (the
    # normal case — 0% of the bench docs carry PII) the gate skips all
    # four regex passes: measured 2.21 s -> 0.18 s at sf1.0 (50 k docs,
    # 12x, bit-identical output; SCALE.md r9 weak-trio pass). Rows that
    # DO probe positive pay one extra contains() — noise next to the
    # regexes they were already paying.
    # NULL text must stay NULL through the gate (ADVICE r09): contains()
    # over NULL is NULL, and when(NULL, ...).otherwise(0) would turn the
    # counts into 0 where SQL regexp_count semantics (and the DuckDB
    # oracle) propagate NULL. Gate with coalesce(..., false) ONLY to
    # pick the replace branch; the counts' otherwise(0) then fires only
    # for non-NULL probe-negative rows (regexp_count itself still
    # propagates NULL on the probe-positive branch, vacuously).
    at = F.coalesce(c.contains("@"), F.lit(False))
    # phones are counted AFTER the email pass, on the same intermediate
    # the phone replacement runs on — counting the raw text would report
    # a phone-shaped substring inside an email address ('a+123456789@x')
    # as n_phone=1 while zero <PHONE> redactions occurred, and the audit
    # counts must match the redacted output
    emailed = F.when(at, F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")).otherwise(c)
    n_email = (
        F.when(c.isNull(), F.lit(None))
        .when(at, F.regexp_count(c, F.lit(PII_EMAIL_RE)))
        .otherwise(F.lit(0)).cast("int")
    )
    plus = F.coalesce(emailed.contains("+"), F.lit(False))
    n_phone = (
        F.when(c.isNull(), F.lit(None))
        .when(plus, F.regexp_count(emailed, F.lit(PII_PHONE_RE)))
        .otherwise(F.lit(0)).cast("int")
    )
    red = F.when(plus, F.regexp_replace(emailed, PII_PHONE_RE, "<PHONE>")).otherwise(emailed)
    return (
        df.withColumn("n_email", n_email)
        .withColumn("n_phone", n_phone)
        .withColumn(out, red)
    )


def normalize_text(df: DataFrame, col: str = "text", out: str = "norm") -> DataFrame:
    """Unicode NFC normalization + lowercase + whitespace collapse.

    The only text operator here that runs Python: Spark's JVM expression
    library has no Unicode normalizer, so this is the sanctioned shape
    for that gap — an Arrow-batched pandas UDF using pandas' vectorized
    ``str`` pipeline (no per-row Python lambda). Everything else in this
    module stays JVM-side; keep it that way.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        # explicit class, not \s — Python's \s is the full Unicode
        # whitespace set, the DuckDB oracle's RE2 \s is ASCII-only
        # (the WS_COLLAPSE_RE rule)
        return (
            s.str.normalize("NFC")
            .str.lower()
            .str.replace(WS_COLLAPSE_RE, " ", regex=True)
            .str.strip(" ")
        )

    c = F.col(col) if isinstance(col, str) else col
    return df.withColumn(out, _norm(c))


def rare_token_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    rare_max: int = 2,
    nll: bool = False,
) -> DataFrame:
    """Corpus-frequency quality statistics per document — the CCNet-style
    LM quality gate expressed over the corpus's OWN unigram distribution:
    documents dense in tokens the corpus has rarely seen are the noisy
    tail a curation pipeline trims.

    Per doc: ``n_tokens``, ``min_cf`` (the rarest token's corpus count),
    ``n_rare`` (tokens with corpus count ≤ ``rare_max``), ``rare_ratio``
    (floor-scaled — exact: an integer-scaled integer ratio divides
    without representation error below 2^53, so it hash-compares across
    engines). ``nll=True`` adds the canonical smoothed unigram
    negative-log-likelihood ``avg(-ln((cf + 0.5) / (total + 0.5·V)))`` —
    deliberately NOT part of any oracle contract: ln() differs in the
    last ulp between JVM and libm (see q_tfidf_topterms), so the
    hash-checked query rides the integer statistics and the NLL is the
    same ranking under a monotone transform.

    Plan shape (scales): explode → corpus-frequency hash aggregate
    (token-keyed shuffle) → join back on token → per-doc aggregate
    (doc-keyed shuffle). The two scalar corpus totals broadcast via a
    one-row cross join (the Q11 scalar-cutoff shape); nothing collects.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(col)).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    per_doc = toks.join(freq, on="w")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.min("cf").cast("long").alias("min_cf"),
        F.sum((F.col("cf") <= rare_max).cast("long")).alias("n_rare"),
    ]
    if nll:
        totals = freq.agg(
            F.sum("cf").alias("cf_total"), F.count(F.lit(1)).alias("v_size")
        )
        per_doc = per_doc.crossJoin(F.broadcast(totals))
        aggs.append(
            F.avg(
                -F.log((F.col("cf") + 0.5) / (F.col("cf_total") + 0.5 * F.col("v_size")))
            ).alias("nll")
        )
    out = per_doc.groupBy(id_col).agg(*aggs)
    return out.withColumn(
        "rare_ratio", F.floor(F.lit(10000) * F.col("n_rare") / F.col("n_tokens")) / 10000
    )


#: Script character classes for :func:`script_profile`, as regex ranges
#: valid in BOTH Java regex (Spark) and RE2 (DuckDB) — the oracle runs
#: the same character-class counts. Order fixes the dominant tie-break.
_SCRIPT_RANGES = (
    ("arabic", "؀-ۿ"),
    ("cjk", "぀-ヿ一-鿿"),
    ("cyrillic", "Ѐ-ӿ"),
    ("latin", "A-Za-z"),
)


def script_profile(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document SCRIPT profile — the writing-system signal a
    multilingual curation pipeline gates on before any language model
    runs (a page whose chars are 60% CJK is not 'en' whatever its
    stopwords say, and mixed-script pages are a known spam/SEO tell):
    the character fraction per script class (Arabic, CJK, Cyrillic,
    Latin — rounded to 4 digits) plus ``dominant_script``, the
    alphabetically-first class achieving the max fraction ('none' when
    every class is 0, e.g. digits/punctuation-only). Pure JVM
    expressions (regexp_replace + length per class — no tokenizer, no
    Python), linear and shuffle-free; fractions are of RAW characters
    incl. spaces/digits, so the four classes need not sum to 1."""
    n = F.length(F.col(col))
    fracs = {}
    for name, rng in _SCRIPT_RANGES:
        cnt = F.length(F.regexp_replace(F.col(col), f"[^{rng}]", ""))
        fracs[name] = F.round(
            F.when(n > 0, cnt / n).otherwise(F.lit(0.0)), 4
        )
    out = df
    for name, _ in _SCRIPT_RANGES:
        out = out.withColumn(f"frac_{name}", fracs[name])
    fa, fc, fy, fl = (F.col(f"frac_{n}") for n in
                      ("arabic", "cjk", "cyrillic", "latin"))
    # alphabetical priority on ties, comparing the ROUNDED fractions so
    # both engines branch on identical values
    dominant = (
        F.when((fa == 0) & (fc == 0) & (fy == 0) & (fl == 0), "none")
        .when((fa >= fc) & (fa >= fy) & (fa >= fl), "arabic")
        .when((fc >= fy) & (fc >= fl), "cjk")
        .when(fy >= fl, "cyrillic")
        .otherwise("latin")
    )
    return out.withColumn("dominant_script", dominant)


#: html_extract's structural passes, IN ORDER — each a (regex,
#: replacement) valid in BOTH Java regex (Spark) and RE2 (DuckDB; note:
#: no backreferences, hence separate script/style patterns instead of a
#: <(script|style)>…</\1> capture). script/style/comment blocks drop
#: with their CONTENT (visible text never includes JS/CSS); every other
#: tag is replaced by a space so "a<br>b" keeps its word boundary. An
#: UNCLOSED script/style block falls through to the generic tag strip
#: (the opener dies, its content survives as text) — both engines'
#: non-greedy match fails identically, so the oracle agrees.
_HTML_TAG_RES = (
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]*>", " "),
)

#: named/numeric entity decodes, applied AFTER tag stripping (a decoded
#: &lt; is literal text, never a tag) with &amp; STRICTLY LAST so
#: double-escaped input ("&amp;lt;") decodes one level per pass, as a
#: browser does. Literal replaces — no regex pass needed. The long tail
#: of numeric/exotic entities passes through verbatim (documented
#: subset; the curation gates downstream treat them as rare tokens).
#: the whitespace-collapse class shared by html_extract /
#: normalize_text and their DuckDB oracles. NOT ``\s``: Java's \s
#: includes \x0B (vertical tab) while RE2's does not, and Python's is
#: the full Unicode set (NBSP, \x1c-\x1f, ...) — input containing any
#: of those would diverge between engine and oracle and flip a driver
#: hash (advisor r12). The explicit ASCII class means the same five
#: characters in Java regex, RE2 and Python re.
WS_COLLAPSE_RE = r"[ \t\n\r\f]+"

_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_extract(
    df: DataFrame, col: str = "text", out: str = "text_clean"
) -> DataFrame:
    """HTML/boilerplate extraction — the pass every web-crawl corpus
    runs BEFORE any dedup or quality gate (the reference ingests RSS
    ``description`` fields that are routinely raw HTML fragments:
    /root/reference/dags/Extract.py:21-23 stores them untouched).
    Drops script/style/comment blocks with their content, strips every
    remaining tag to a space, decodes the common named entities
    (:data:`_HTML_ENTITIES`), collapses whitespace, trims. Pure JVM
    regexp projection — no shuffle, fuses into the scan, linear at any
    scale (the :func:`pii_redact` shape).

    Clean-majority fast path: the tag passes are gated behind a literal
    ``contains('<')`` probe and the entity decodes behind
    ``contains('&')`` on the stripped intermediate — a memchr-style
    scan ~10-100x cheaper than the regex passes it skips, and most rows
    of a mixed corpus are plain text. NULL text stays NULL (probe
    coalesces pick the identity branch; regexp/replace never run)."""
    c = F.col(col)
    has_tag = F.coalesce(c.contains("<"), F.lit(False))
    chain = c
    for pat, rep in _HTML_TAG_RES:
        chain = F.regexp_replace(chain, pat, rep)
    stripped = F.when(has_tag, chain).otherwise(c)
    has_ent = F.coalesce(stripped.contains("&"), F.lit(False))
    dchain = stripped
    for ent, rep in _HTML_ENTITIES:
        dchain = F.replace(dchain, F.lit(ent), F.lit(rep))
    decoded = F.when(has_ent, dchain).otherwise(stripped)
    return df.withColumn(
        out, F.trim(F.regexp_replace(decoded, WS_COLLAPSE_RE, " "))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): per doc, the distinct LOCAL-MINIMUM k-gram
    hashes over every window of ``w`` consecutive grams — exploded to
    (id, fp) rows, the join surface for sub-document overlap detection.
    The selection guarantee is positional: any shared token run of
    length ≥ w + k − 1 spans a full gram window on both sides, and both
    sides select the same minimum inside it — so two docs sharing such
    a run share ≥1 fingerprint, while storage is ~|grams|/w per doc
    (the density the w knob buys). Complements :func:`fingerprint`
    (order-sensitive whole-doc scalar) and substring-span dedup (exact
    excision): winnowing is the cheap overlap-DETECTION index.

    All JVM higher-order expressions over the shared token-hash gram
    basis (no Python, no shuffle before the distinct); selection is
    hash-order-dependent, so driver checks are rows-only by design
    (the minhash/simhash precedent) and the guarantee is
    property-tested. Docs with fewer than k tokens fingerprint their
    whole-token-array hash; docs with fewer than w grams select the
    minimum of what exists (one window)."""
    from newsmaper_etl_spark.operators.dedup import (
        hashed_shingles_expr,
        token_hashes_col,
    )

    if k < 1 or w < 1:
        raise ValueError(f"k={k}, w={w} (both >= 1)")
    tmp = df.withColumn("__th", token_hashes_col(col))
    grams = hashed_shingles_expr("__th", k)  # whole-array hash when < k
    tmp = tmp.withColumn("__g", grams)
    n = F.size(F.col("__g"))
    mins = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.array_min(F.slice(F.col("__g"), i, w)),
        ),
    ).otherwise(F.array(F.array_min(F.col("__g"))))
    return tmp.select(
        F.col(id_col),
        F.explode(F.array_distinct(mins)).alias("fp"),
    )
