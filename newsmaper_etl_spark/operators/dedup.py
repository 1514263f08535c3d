"""Deduplication operators for large-scale corpora.

Exact + three near-duplicate families, designed around their shuffle
profiles (the thing that decides 100 TB viability):

- exact_dedup          one hash-aggregate on the key (map-side partial).
- minhash_lsh          shingle→minhash→band→bucket-join. All JVM-side
                       (higher-order fns + xxhash64): signatures cost one
                       pass, candidate generation shuffles only
                       (band_id, band_hash) buckets — never all-pairs.
- simhash              64-bit signature, fully JVM-side (xxhash64 token
                       hashes + 64 aggregate bit-vote lanes); near-dups =
                       hamming distance on bucketed 16-bit chunks.
- ngram_jaccard_pairs  exact Jaccard on token sets via token-inverted
                       index join; scoped (per-source) to bound the
                       candidate blowup — the exact/verification
                       counterpart to the sketch methods.

At 100 TB: exact/minhash/simhash all scale (linear scans + key-bucket
shuffles); ngram_jaccard is for in-bucket verification, not corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# Exact
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    cols: list[str],
    id_col: str = "doc_id",
    salt: int | None = None,
    hash_keys: bool = False,
) -> DataFrame:
    """Survivor per exact-duplicate group = lowest id (deterministic,
    matches the reference's keep-first — ledger L7). One shuffle.

    ``salt=N`` → two-phase skew-hardened ranking (identical output); see
    operators.newsmaper.dedup_keep_first for the rationale — AQE splits
    skewed joins, not skewed window partitions.

    ``hash_keys=True`` → the corpus-scale shape for WIDE keys (e.g.
    ``cols=['text']``): the window partitions on a 128-bit hash of the key
    tuple (two independent xxhash64 lanes) instead of the raw columns, so
    the shuffle's partition/sort key is 16 bytes rather than a full
    document string — the same narrow-state trick the streaming dedup
    path uses (streaming/pipeline.py sha2 keys). Null positions are
    disambiguated with interleaved is-null flags (xxhash64 skips nulls,
    so ('x', NULL) and (NULL, 'x') would otherwise chain to the same
    hash). A cross-lane collision merging two distinct key groups needs
    2^-128 — below hardware error rates; output is bit-identical to the
    raw-key window on any real corpus (tested both ways)."""
    from newsmaper_etl_spark.operators.newsmaper import dedup_keep_first

    if hash_keys:
        parts = []
        for c in cols:
            parts += [F.col(c), F.isnull(F.col(c))]
        hashed = df.withColumn("__hk1", F.xxhash64(*parts)).withColumn(
            "__hk2", F.xxhash64(F.lit(42), *parts)
        )
        return dedup_keep_first(
            hashed, ("__hk1", "__hk2"), order_col=id_col, salt=salt
        ).drop("__hk1", "__hk2")
    return dedup_keep_first(df, tuple(cols), order_col=id_col, salt=salt)


def exact_dup_groups(df: DataFrame, cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """(keep_id, n_dups) per distinct key — the audit view of exact_dedup."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def shingles_from_tokens(toks, k: int = 3):
    """k-token STRING shingles from a BOUND token-array column. Callers
    must pass a NAMED column (withColumn first), not an inline split()
    expression — the lambda references ``toks`` per element, and an
    inline split would be re-evaluated per shingle (the HOF recompute
    pitfall; measured ~5× on the contamination path)."""
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles_col(text_col: str, k: int = 3):
    """k-token STRING shingles as an array column (JVM higher-order
    functions; empty-safe). Kept for exact/inspectable shingling on
    SMALL inputs; hot paths must bind the token array first and use
    :func:`shingles_from_tokens` (or the hashed basis
    :func:`hashed_shingles_expr` — string concat per shingle measured
    5× slower than hashing token hashes)."""
    return shingles_from_tokens(F.split(F.col(text_col), " ", -1), k)


def _qc(name: str) -> str:
    """Backtick-quote a column name for SQL-string assembly (ADVICE
    r15 #3: raw interpolation breaks on backtick-bearing names)."""
    return "`" + name.replace("`", "``") + "`"


def token_hashes_col(text_col: str):
    """Whitespace tokens → array<bigint> of xxhash64 token hashes.
    One parsed expression (Fix 5 — plan-construction latency; tree
    identical to the Column-algebra form)."""
    return F.expr(
        f"transform(split({_qc(text_col)}, ' ', -1), w -> xxhash64(w))"
    )


def hashed_shingles_expr(th_col: str, k: int = 3):
    """Shingle-hash array from a BOUND token-hash column: shingle i ↦
    xxhash64(th[i..i+k-1]). No string building — shingle identity is the
    hash of its k token hashes (collisions at 2^-64 are noise next to the
    MinHash approximation built on top). Docs shorter than k collapse to
    one whole-doc shingle (hash of the full token-hash array), matching
    shingles_col's fallback. Assembled as ONE parsed expression (Fix 5);
    the k ``element_at`` probes, sequence bounds, and fallback hash are
    the exact expressions the Column-algebra form built."""
    args = ", ".join(f"element_at({_qc(th_col)}, i + {j})" for j in range(k))
    return F.expr(
        f"CASE WHEN size({_qc(th_col)}) >= {k} THEN "
        f"transform(sequence(1, size({_qc(th_col)}) - {k - 1}), "
        f"i -> xxhash64({args})) "
        f"ELSE array(xxhash64({_qc(th_col)})) END"
    )


def hashed_shingles_pow2(d: DataFrame, th_col: str, k: int) -> tuple[DataFrame, str]:
    """Hashed k-gram shingles by DOUBLING (k ∈ {2, 4, 8, 16}): level s
    holds the hashes of all s-token windows, and level 2s is one
    ``zip_with`` of level s with itself shifted by s —
    ``g2s[i] = xxhash64(gs[i], gs[i+s])`` — so a k-gram costs log2(k)
    linear passes instead of :func:`hashed_shingles_expr`'s k
    ``element_at`` probes per window (interpreted HOFs both ways, but
    ~3m vs ~9m calls per doc at k=8; measured 2.3× on the sf1.0
    contamination corpus). Each level is BOUND as its own column —
    the two slice references would otherwise re-evaluate the producer
    level per element (the HOF recompute pitfall). Slice lengths clamp
    at 0, so short docs flow through every level safely; callers must
    still apply the m ≥ k fallback themselves (whole-doc hash, as in
    hashed_shingles_expr).

    NOTE: the hash VALUES differ from hashed_shingles_expr's (composed
    pairwise vs one k-ary xxhash64) — a valid gram identity for any
    within-plan use (collisions still ~2⁻⁶⁴), but NOT interchangeable
    with persisted signatures built on the other basis. Returns
    (df, final-level column name)."""
    if k & (k - 1) or k < 2 or k > 16:
        raise ValueError(f"k={k} (need a power of two in [2, 16])")
    # each level as ONE parsed SQL string (r16, the Fix-5 technique):
    # the Column-algebra form cost ~0.14 s of py4j round trips per call
    # (HOF lambdas are ~20 ms each to BUILD — f59449b:OPTIMIZATION_r16.md),
    # where one parse is ~2 ms; the tree (slices, greatest clamp,
    # xxhash64 pair, level binding) is term-for-term identical
    cur, s, out = th_col, 1, d
    while s < k:
        nxt = f"__sg{2 * s}"
        ln = f"greatest(size({_qc(th_col)}) - {2 * s - 1}, 0)"
        out = out.withColumn(
            nxt,
            F.expr(
                f"zip_with(slice({_qc(cur)}, 1, {ln}), "
                f"slice({_qc(cur)}, {s + 1}, {ln}), "
                "(a, b) -> xxhash64(a, b))"
            ),
        )
        cur, s = nxt, s * 2
    return out, cur


def minhash_signature(
    df: DataFrame, text_col: str = "text", num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """Append ``sig: array<bigint>`` — per seed s, min over shingle
    hashes of xxhash64(s, shingle_hash). No shuffle, no Python, no string
    concat (token-hash shingle basis; measured 2× faster end-to-end than
    hashing string shingles at sf0.1).

    The shingle-hash array is materialized as its own named column first:
    the sig expression references it ``num_hashes`` times, and
    CollapseProject declines to inline a non-cheap expression with
    multiple references — so shingle construction runs once per row
    instead of once per seed."""
    tmp = df.withColumn("__th", token_hashes_col(text_col)).withColumn(
        "__hs", hashed_shingles_expr("__th", k)
    )
    # One SQL string parsed JVM-side instead of num_hashes × py4j
    # Column-algebra lanes (same build-latency fix as simhash's 64-lane
    # vote). `{s}` stays a plain INT literal — xxhash64 hashes by input
    # type, and F.lit(int) was an INT, so an `L` suffix here would
    # silently change every signature.
    lanes = ", ".join(
        f"array_min(transform(__hs, h -> xxhash64({s}, h)))"
        for s in range(num_hashes)
    )
    return tmp.withColumn("sig", F.expr(f"array({lanes})")).drop("__th", "__hs")


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band, bh) — each doc's LSH band keys (bh = hash of its
    band's signature rows). This is the frame a production deployment
    PERSISTS for a corpus (a manifest table of three longs per doc per
    band): candidate generation against any future batch is then a plain
    equi-join on (band, bh) with no re-signing of the corpus — the seam
    :func:`incremental_minhash_dedup` accepts via ``seen_banded``.

    ``bands`` must divide ``num_hashes``: trailing signature positions
    would otherwise be computed but silently excluded from every band
    (paid-for hashes with no recall contribution), and ``bands >
    num_hashes`` would build zero-row bands.

    The (num_hashes, bands, k) triple is stamped into the ``bh``
    column's metadata (survives a parquet round-trip via the Spark
    schema): a persisted band-key table built under one parameterization
    silently never collides — or spuriously collides — with a batch
    signed under another, so :func:`incremental_minhash_dedup` validates
    the stamp before joining."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must evenly divide num_hashes={num_hashes}"
        )
    rows = num_hashes // bands
    sigged = minhash_signature(df, text_col, num_hashes, k).select(id_col, "sig")
    # band structs as ONE parsed expression (Fix 5): the per-band
    # Column-algebra build was ~0.2 s of py4j latency per call; the
    # struct fields, INT band literals, and xxhash64 lane order are
    # identical (sig[i] IS getItem(i) — 0-based either way)
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bh', xxhash64({lanes}))".format(
            b=b,
            lanes=", ".join(f"sig[{b * rows + r}]" for r in range(rows)),
        )
        for b in range(bands)
    )
    out = sigged.select(
        id_col,
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")
    meta = {"num_hashes": num_hashes, "bands": bands, "k": k}
    return out.withColumn("bh", F.col("bh").alias("bh", metadata=meta))


def _validate_banded_params(
    banded: DataFrame, num_hashes: int, bands: int, k: int
) -> DataFrame:
    """Fail fast when a pre-computed band-key frame was signed under a
    different (num_hashes, bands, k) than the batch side — mismatched
    parameterizations don't error on their own, they just produce
    garbage candidates (band hashes that never, or spuriously, collide).
    Frames without any stamp (hand-built) are accepted as-is; the shape
    (band, bh columns) is still required.

    Two stamp carriers are checked (ADVICE r08): the ``bh`` column
    METADATA that :func:`banded_signatures` writes (survives a plain
    parquet round-trip but NOT the manifest's recorded-DDL projection),
    and the ``__nh``/``__nb``/``__k`` STAMP COLUMNS that the persisted
    index (``keyindex.BANDED``) carries — so a frame loaded straight
    through ``manifest.read_table`` is guarded too, not only callers
    going through ``keyindex.check_stamp(BANDED, …)``. The column check
    reads one row (column-pruned to three RLE constants — a
    millisecond job, and only on the manifest-loaded path); the frame
    is returned with the stamp columns dropped so they never ride the
    band join."""
    cols = set(banded.columns)
    if not {"band", "bh"} <= cols:
        raise ValueError(
            f"seen_banded must carry (band, bh) columns; got {sorted(cols)}"
        )
    want = {"num_hashes": num_hashes, "bands": bands, "k": k}
    for f in banded.schema.fields:
        if f.name != "bh" or not f.metadata:
            continue
        stamp = {p: f.metadata.get(p) for p in ("num_hashes", "bands", "k")}
        if any(v is not None and v != want[p] for p, v in stamp.items()):
            raise ValueError(
                "seen_banded was built with "
                f"{ {p: v for p, v in stamp.items() if v is not None} } "
                f"but this batch is being signed with {want}; band keys "
                "from different parameterizations never match — rebuild "
                "one side"
            )
    stamp_cols = ("__nh", "__nb", "__k")
    if set(stamp_cols) <= cols:
        head = banded.select(*stamp_cols).head(1)
        if head:
            got = dict(zip(("num_hashes", "bands", "k"), head[0]))
            if any(v is not None and v != want[p] for p, v in got.items()):
                raise ValueError(
                    f"seen_banded's persisted stamp says {got} but this "
                    f"batch is being signed with {want}; band keys from "
                    "different parameterizations never match — rebuild "
                    "one side"
                )
        banded = banded.drop(*stamp_cols)
    return banded


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that collide in ≥1 LSH
    band. rows = bands × docs before the bucket join; the self-join
    shuffles on (band, band_hash) so only same-bucket docs ever meet.
    Banding contract in :func:`banded_signatures`.

    The explicit ``repartition`` on the join key BELOW the side aliases
    is load-bearing: both self-join sides then hang off one canonical
    Exchange subtree, which physical planning deduplicates
    (ReusedExchange) — the MinHash signature lanes are computed ONCE
    and read twice from shuffle files, instead of once per side (the
    renames above the exchange don't break canonical equality; without
    the repartition they do, and the whole interpreted signature
    lineage runs twice). The join was going to shuffle both sides on
    (band, bh) anyway, so this adds no exchange at scale — it only
    pins WHERE the shuffle happens so it can be shared.

    ``banded`` accepts a pre-computed :func:`banded_signatures` frame
    (stamp-validated against this call's parameters) — the same
    persisted-index seam as :func:`incremental_minhash_dedup`'s
    ``seen_banded``: a deployment signs a corpus snapshot once and
    runs candidate generation over the stored keys."""
    if banded is not None:
        banded = _validate_banded_params(banded, num_hashes, bands, k)
    else:
        banded = banded_signatures(df, id_col, text_col, num_hashes, bands, k)
    banded = banded.repartition("band", "bh")
    left = banded.withColumnRenamed(id_col, "id_a")
    right = banded.withColumnRenamed(id_col, "id_b")
    return (
        left.join(right, on=["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    strategy: str = "auto",
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(id, comp) for every vertex in ``edges``; comp = min reachable id.

    Two strategies, picked like Spark picks broadcast joins — by size:

    - ``propagate`` (the scale path): min-label propagation — each round
      every vertex takes the smallest label among itself and its
      neighbors, converging in O(graph diameter) rounds (LSH dup clusters
      are shallow, so typically 2-3). Each round is two keyed joins + one
      aggregate; convergence is the label sum going stationary
      (monotonically non-increasing, one cheap agg — no self-join diff).
      No driver-side graph; state is one (id, comp) frame keyed by id.
    - ``driver``: when the edge list is broadcast-sized (≤
      ``driver_threshold``; a dup-pair graph is tiny next to its corpus),
      collect it and union-find in O(E·α) — replacing 3-4 distributed
      rounds' scheduling latency with one bounded materialization, the
      same contract as the broadcast keyword map.

    ``auto`` sizes the edge list with ONE limit-probe collect —
    ``edges.limit(threshold+1)`` — which, when the graph is small (the
    overwhelmingly common case: a dup-pair graph is tiny next to its
    corpus), ALSO delivers the rows the driver path needs, so the old
    count-job + collect-job pair collapses to a single job and the
    persist/unpersist churn disappears (guide §1.2: remove passes;
    measured as one fewer full verify execution per recipe build —
    f59449b:OPTIMIZATION_r15.md). Only an over-threshold graph pays the probe
    as pure sizing and falls through to the distributed path. The
    distributed path is the semantics-defining one; the driver path
    must match it bit-for-bit (both are tested against each other).

    The probe collects through a ``coalesce(1)`` ABOVE the limit
    (r16): a root-level limit collects via CollectLimit's incremental
    take, which starts at ONE partition of the final stage and scales
    up per attempt — 4-6 scheduler round-trip JOBS per probe on a
    multi-partition edge frame (statusTracker decomposition in
    f59449b:OPTIMIZATION_r16.md), while the upstream shuffles have already
    materialized EVERY partition, so the retries save nothing but the
    final stage's tasks. With coalesce on top the limit is no longer
    the root: one ordinary job runs LocalLimit → single-partition
    exchange (≤ threshold+1 rows of two longs) → GlobalLimit, at any
    scale.
    """
    if strategy == "auto":
        probe = [
            (r[0], r[1])
            for r in edges.select(src, dst)
            .limit(driver_threshold + 1).coalesce(1).collect()
        ]
        if len(probe) <= driver_threshold:
            return _cc_union_find(probe, edges, src, dst)
        strategy = "propagate"
    if strategy == "driver":
        return _cc_driver(edges, src, dst)
    if strategy != "propagate":
        raise ValueError(f"unknown strategy: {strategy}")
    edges = edges.persist()  # every propagate round re-reads the edges
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    sym = sym.persist()
    labels = sym.select("u").distinct().select(
        F.col("u").alias("id"), F.col("u").alias("comp")
    ).persist()
    prev_sum = None
    for _ in range(max_iter):
        nbr = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.id"))
            .groupBy(F.col("e.u").alias("id"))
            .agg(F.min("l.comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.alias("l2")
            .join(nbr.alias("n"), F.col("l2.id") == F.col("n.id"), "left")
            .select(
                F.col("l2.id").alias("id"),
                F.least(
                    F.col("l2.comp"),
                    F.coalesce(F.col("n.nbr_comp"), F.col("l2.comp")),
                ).alias("comp"),
            )
            .persist()
        )
        cur_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            prev_sum = None  # converged marker
            break
        prev_sum = cur_sum
    if prev_sum is not None:
        # the loop exhausted max_iter while labels were still moving:
        # a cluster with diameter > max_iter keeps multiple survivors.
        # Surface it ("no silent caps") instead of returning quietly.
        import warnings

        warnings.warn(
            f"connected_components: labels not converged after "
            f"{max_iter} iterations (graph diameter exceeds max_iter); "
            "components may be split — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    sym.unpersist()
    edges.unpersist()
    # Detach the result from the iteration's persisted lineage: checkpoint
    # the final (id, comp) frame — tiny, two longs per duplicate-cluster
    # vertex — and release the persist, so repeated invocations don't
    # accumulate executor storage that no caller owns unpersisting.
    out = labels.localCheckpoint(eager=True)
    labels.unpersist()
    return out


def _cc_driver(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Union-find on a collected (bounded) edge list; comp = min of each
    component, matching the propagate strategy exactly."""
    pairs = [(r[0], r[1]) for r in edges.select(src, dst).collect()]
    return _cc_union_find(pairs, edges, src, dst)


def _cc_union_find(
    pairs: list[tuple], edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """The driver strategy's union-find over already-collected pairs
    (``edges`` only supplies the empty-result schema)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(x, find(x)) for x in parent]
    spark = edges.sparkSession
    if not rows:
        return edges.select(
            F.col(src).alias("id"), F.col(src).alias("comp")
        ).limit(0)
    import pandas as pd

    # Arrow path → JVM LocalRelation; no Python workers at execution time
    return spark.createDataFrame(pd.DataFrame(rows, columns=["id", "comp"]))


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    transitive: bool = True,
    max_iter: int = 20,
    cc_strategy: str = "auto",
    banded: DataFrame | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Drop near-duplicates: LSH candidates → exact shingle-Jaccard
    verification → one survivor (the lowest id) per duplicate cluster.

    ``banded`` forwards a pre-computed :func:`banded_signatures` frame
    to candidate generation (see :func:`minhash_lsh_candidates`) — the
    persisted-index shape for corpora whose band keys are already
    materialized.

    ``transitive=True`` (default) resolves clusters as connected
    components of the verified-pair graph, so a chain a~b, b~c collapses
    to exactly one survivor per component regardless of which pairs the
    banding surfaced — well-defined semantics at any chain depth.
    ``transitive=False`` is the cheaper one-level single-link rule (every
    id_b of a verified pair loses): no iteration, but a transitive chain's
    survivor set depends on pair orientation — fine when clusters are
    known-shallow.

    The candidate frame is localCheckpoint-ed before verification
    (``checkpoint=True``, the scale default): jaccard_verify references
    it three times (member scoping, the intersection join, the
    every-pair-gets-a-verdict left join), and each reference would
    otherwise re-run the banded self-join. The checkpoint is LAZY
    (r16, guide §1.2 — remove passes): the three references share one
    RDD, so the FIRST job that touches it (the connected-components
    probe on the transitive path, the final evaluation otherwise)
    computes it once and persists it — the r15 eager form paid a whole
    extra build-time job just to materialize the same thing earlier,
    one of q_curate_corpus's two sanctioned-kill build jobs (VERDICT
    r15 'do this' #3). The frame is candidate-pair-scaled (bucket
    mates only), never corpus-scaled — the same
    materialize-the-narrow-frame shape as incremental_minhash_dedup's
    ``checkpoint``. Callers joining from an already-materialized
    ``banded`` frame on a bounded corpus may pass ``checkpoint=False``:
    the re-referenced subtree is then a cheap join over the stored
    keys whose Exchange physical planning deduplicates, and skipping
    the checkpoint saves the persist."""
    cands = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, k, banded=banded
    )
    if checkpoint:
        cands = cands.localCheckpoint(eager=False)
    verified = jaccard_verify(df, cands, id_col, text_col, k, round_digits=None).filter(
        F.col("jaccard") >= threshold
    )
    if transitive:
        # cc_strategy="driver" skips the auto-sizing count() — one
        # fewer action for callers that KNOW the verified-pair graph is
        # bounded (the planted contracts); "auto" is the production
        # default
        comps = connected_components(verified, "id_a", "id_b", max_iter,
                                     strategy=cc_strategy)
        losers = comps.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def minhash_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_iter: int = 20,
    cc_strategy: str = "auto",
    banded: DataFrame | None = None,
    checkpoint: bool = True,
    resolve: str = "cc",
) -> DataFrame:
    """The CLUSTER AUDIT surface of :func:`minhash_dedup`: (id,
    cluster_id) for EVERY input row — duplicates share their connected
    component's min id, singletons carry their own id. Curation
    pipelines want this table, not only the survivor set: it is what a
    reviewer samples to validate a threshold, what joins dup groups
    back to source/crawl metadata, and what the keep-rule replays
    against when the survivor policy changes (keep-first today,
    keep-longest tomorrow) without re-running banding+verify.

    ``resolve="cc"`` (default) labels via
    :func:`connected_components` — correct at any chain depth.
    ``resolve="min_neighbor"`` labels each row with the min verified
    id_a seen as that row's partner (one lazy aggregate, no CC
    iteration/collect) — EQUAL to CC exactly when every duplicate
    group's verified pairs form a complete clique containing the group
    min (identical-content groups at threshold 1.0, the planted
    contracts' shape); on sparse pair graphs it can split a chain, so
    production thresholds keep the default."""
    if resolve not in ("cc", "min_neighbor"):
        raise ValueError(f"resolve={resolve!r} (cc or min_neighbor)")
    cands = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, k, banded=banded
    )
    if checkpoint:
        # lazy: the CC probe (or the first evaluation) materializes it
        # once — see minhash_dedup
        cands = cands.localCheckpoint(eager=False)
    verified = jaccard_verify(
        df, cands, id_col, text_col, k, round_digits=None
    ).filter(F.col("jaccard") >= threshold)
    if resolve == "min_neighbor":
        labels = (
            verified.groupBy("id_b")
            .agg(F.min("id_a").alias("comp"))
            .select(F.col("id_b").alias("__cid"), "comp")
        )
    else:
        labels = connected_components(
            verified, "id_a", "id_b", max_iter, strategy=cc_strategy
        ).select(F.col("id").alias("__cid"), "comp")
    return (
        df.select(id_col)
        .join(labels, on=F.col(id_col) == F.col("__cid"), how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id"),
        )
    )


# --------------------------------------------------------------------------
# Incremental dedup (new batch vs already-ingested corpus)
# --------------------------------------------------------------------------

def incremental_exact_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    cols: list[str],
    id_col: str = "doc_id",
    hash_keys: bool = False,
    within_batch: bool = True,
    salt: int | None = None,
) -> DataFrame:
    """Exact dedup of an ingest BATCH against an already-ingested
    corpus — the production shape of dedup (a pipeline rarely re-dedups
    100 TB from scratch; it drops tonight's batch rows whose key the
    corpus already holds, then keep-firsts within the batch).

    Plan: the seen side reduces to DISTINCT keys (partial agg compacts
    map-side, so dup-heavy corpora don't inflate the network), then one
    LEFT ANTI hash join keyed on the key columns — the batch never
    broadcasts and the corpus never rewrites. ``hash_keys=True`` is the
    corpus-scale shape for wide keys (e.g. ``cols=['text']``): both
    sides key on the 128-bit two-lane xxhash64 of the tuple (the
    :func:`exact_dedup` basis — 16 bytes shuffled per seen doc instead
    of the document text). ``within_batch`` then applies
    :func:`exact_dedup` (lowest id survives) to the anti-join
    survivors; the seen corpus has no duplicates to resolve by
    induction, which is what makes the two-step exactly equal to a
    full-corpus dedup restricted to new ids."""
    if hash_keys:
        def _hk(d: DataFrame) -> DataFrame:
            parts: list = []
            for c in cols:
                parts += [F.col(c), F.isnull(F.col(c))]
            return d.withColumn("__hk1", F.xxhash64(*parts)).withColumn(
                "__hk2", F.xxhash64(F.lit(42), *parts)
            )
        seen_keys = _hk(seen_df).select("__hk1", "__hk2").distinct()
        out = (
            _hk(new_df)
            .join(seen_keys, on=["__hk1", "__hk2"], how="left_anti")
            .drop("__hk1", "__hk2")
        )
    else:
        # eqNullSafe, not `on=cols`: a NULL-keyed batch row must drop
        # against a NULL-keyed corpus row exactly as the hashed path
        # drops it (xxhash64's isnull interleave makes NULLs compare
        # equal there) — null-unsafe equality would silently keep it
        # and the two bases would disagree on output.
        seen_keys = seen_df.select(
            *[F.col(c).alias(f"__sk_{c}") for c in cols]
        ).distinct()
        cond = None
        for c in cols:
            clause = F.col(c).eqNullSafe(F.col(f"__sk_{c}"))
            cond = clause if cond is None else cond & clause
        out = new_df.join(seen_keys, on=cond, how="left_anti")
    if within_batch:
        out = exact_dedup(out, list(cols), id_col, salt=salt,
                          hash_keys=hash_keys)
    return out


def incremental_minhash_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    within_batch: bool = False,
    seen_banded: DataFrame | None = None,
    transitive: bool = True,
    checkpoint: bool = True,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """Drop new-batch docs that near-duplicate ANY already-ingested doc
    (cross-corpus MinHash-LSH), then optionally near-dedup within the
    batch.

    Candidates come from an equi-join of the batch's band keys against
    the CORPUS's band keys — batch×corpus, never corpus×corpus, so the
    per-batch cost scales with the batch (the corpus side contributes
    its bucket-mates only). ``seen_banded`` accepts a pre-computed
    :func:`banded_signatures` frame: at 100 TB the corpus's band keys
    are written ONCE to a manifest table (three longs per doc per band)
    and every nightly batch joins against that — re-signing the corpus
    per batch would dwarf the batch itself. Flagged candidates are
    verified with exact shingle-Jaccard (estimation from signature
    agreement would admit borderline false drops); a new doc is dropped
    iff some verified seen-pair scores ≥ threshold. ``within_batch=True``
    then runs :func:`minhash_dedup` over the cross-corpus survivors.

    The verify stage is side-split (:func:`cross_corpus_losers`): each
    side is semi-joined to the candidate ids (only bucket-mates the
    batch actually touched are ever shingled — re-shingling the whole
    corpus per batch would dwarf the batch and void the ``seen_banded``
    seam) and reduced to one distinct shingle-hash array per doc, and
    each candidate pair scores its two arrays with array set ops.
    (:func:`jaccard_verify` stays the standalone primitive — its
    every-pair-gets-a-verdict contract needs a score for pairs this
    internal path can drop, because threshold > 0 discards empty
    intersections either way.)

    ``checkpoint=True`` (default) localCheckpoints the candidate-pair
    frame: it is referenced by both semi-joins and the verify join, and
    without materialization each reference re-runs the band join (the
    same multi-reference lineage rule as simhash_near_pairs). The frame
    is batch-scaled (bucket-mate pairs only), never corpus-scaled.

    ``new_banded`` mirrors ``seen_banded`` for the BATCH side: a caller
    that already signed the batch (e.g. to commit its keys to the
    ``_banded`` side table in the same transaction) passes the frame in
    instead of re-signing — both stamps are validated against this
    call's parameters."""
    if seen_banded is not None:
        seen_banded = _validate_banded_params(seen_banded, num_hashes, bands, k)
    if new_banded is not None:
        new_banded = _validate_banded_params(new_banded, num_hashes, bands, k)
    nb = (
        new_banded
        if new_banded is not None
        else banded_signatures(new_df, id_col, text_col, num_hashes, bands, k)
    ).withColumnRenamed(id_col, "__new_id")
    sb = (
        seen_banded
        if seen_banded is not None
        else banded_signatures(seen_df, id_col, text_col, num_hashes, bands, k)
    ).withColumnRenamed(id_col, "__seen_id")
    cands = (
        nb.join(sb, on=["band", "bh"])
        .select(
            F.col("__new_id").alias("id_a"), F.col("__seen_id").alias("id_b")
        )
        .distinct()
    )
    if checkpoint:
        # lazy: the first consuming job materializes it once — see
        # minhash_dedup
        cands = cands.localCheckpoint(eager=False)
    losers = cross_corpus_losers(
        new_df, seen_df, cands, id_col, text_col, k, threshold
    )
    out = new_df.join(losers, on=id_col, how="left_anti")
    if within_batch:
        out = minhash_dedup(
            out, id_col, text_col, threshold, num_hashes, bands, k,
            transitive=transitive,
        )
    return out


def cross_corpus_losers(
    new_df: DataFrame,
    seen_df: DataFrame,
    cands: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """Side-split exact-Jaccard verify for batch-vs-corpus candidate
    pairs: the distinct batch ids (``id_a``) appearing in some pair
    whose exact shingle Jaccard vs its ``id_b`` seen doc scores
    ``>= threshold``. ``cands`` must carry (id_a = new-side ids,
    id_b = seen-side ids); callers should materialize it (it is
    referenced by both semi-joins and both array joins).

    The two sides' shingles NEVER union (ADVICE r08): a batch doc that
    shares an id with a committed doc — the same-id re-crawl with
    edited text, the canonical streaming-ingest case that exact-key
    dedup on text does not catch — keeps its shingles on its own side,
    so Jaccard for every pair touching that id stays exact. Each side
    is semi-joined to the candidate ids (only bucket-mates the batch
    actually touched are ever shingled) and reduced to ONE distinct
    shingle-hash array per doc; every candidate pair joins its two
    arrays and scores ``size(array_intersect) / size(array_union)`` in
    place — no per-shingle rows, no full-outer join, no aggregation
    over the pair × shingle product.

    The SEEN side is version-aware (ADVICE r09): the data table can
    legitimately hold several rows under one id — the same-id re-crawl
    whose edit was admitted commits a second version — and merging
    their shingles under the shared id deflates/inflates every later
    Jaccard against that id. Each seen ROW keeps its own array and is
    scored as its own version, and a batch doc loses iff ANY version
    scores ≥ threshold — near-duplicating content the corpus already
    holds, in any of its committed revisions, drops it (byte-identical
    rows score identically, so they need no collapsing).

    The NEW side is merged per id: batch rows sharing an id score the
    union of their shingles (``array_distinct(flatten(collect_list))``)
    — the verdict is per id, because the caller drops losers by id."""
    def _shingles(d: DataFrame, side: str, pair_col: str) -> DataFrame:
        return (
            d.select(id_col, text_col)
            .join(cands.select(F.col(pair_col).alias(id_col)).distinct(),
                  on=id_col, how="left_semi")
            .withColumn("__th", token_hashes_col(text_col))
            .select(
                F.col(id_col).alias(pair_col),
                F.array_distinct(hashed_shingles_expr("__th", k)).alias(side),
            )
        )

    sa = (
        _shingles(new_df, "__sa", "id_a")
        .groupBy("id_a")
        .agg(F.array_distinct(F.flatten(F.collect_list("__sa"))).alias("__sa"))
    )
    sb = _shingles(seen_df, "__sb", "id_b")
    jacc = (
        F.size(F.array_intersect("__sa", "__sb"))
        / F.size(F.array_union("__sa", "__sb"))
    )
    return (
        cands.join(sa, on="id_a").join(sb, on="id_b")
        .filter(jacc >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: explode each side's
    distinct shingles, count the intersection with a join keyed on
    (pair, shingle) — never materializes a cross product. Shingles are
    xxhash64-compressed before the explode: the shuffle/join key is 8
    bytes instead of a ~3-token string (collisions at 2^-64 are noise
    next to the MinHash approximation this verifies).

    ``round_digits=None`` returns the raw ratio — callers that THRESHOLD
    on jaccard must use the raw value (rounding first admits pairs in
    [threshold-ulp, threshold) that an exact engine rejects).

    The explode takes the shingle EXPRESSION directly, not an aliased
    column: exploding a named column lets InferFiltersFromGenerate infer
    a size()>0 filter that predicate-pushdown re-inlines as a full
    recompute of the shingle pipeline per row (measured 20× slower);
    exploding the expression skips the rule.

    ``df`` is first SCOPED to the pair members (one semi-join on the
    exploded pair-id list): verification only ever needs the docs that
    appear in a candidate pair.

    Single-pass shape (r16, guide §2.4): each side of every pair
    contributes its distinct shingles as (pair, shingle) rows, the two
    sides meet in ONE full-outer join on (pair, shingle), and per pair
    ``|A∪B| = count(*)``, ``|A∩B| = count(both present)`` — so Jaccard
    falls out of one aggregation. The shingle pipeline is referenced
    TWICE (side a, side b) instead of four times (two intersection
    sides + two size lookups), and the per-doc size aggregation, both
    size joins, and the every-pair-gets-a-verdict left join are gone
    outright: a pair with an empty intersection still has union rows
    (every doc, even empty/NULL text, carries ≥1 shingle hash), so it
    scores 0.0 instead of vanishing — same verdict contract, four
    fewer plan subtrees (statusTracker: 4 broadcast-build jobs → 2 on
    the recipe build; plan diff in f59449b:plans/r16/). The emitted ratio is
    bit-identical: n_inter/n_union and n_inter/(n_a+n_b−n_inter) are
    the same integer division.

    Absent-id contract (pairs naming ids ``df`` does not hold):

    - ONE id absent: the pair scores 0.0 (its present side's shingles
      are all union rows, none intersect) — the pre-r16 inner size
      joins dropped such pairs;
    - BOTH ids absent: the pair yields no row at all (neither side
      contributes a shingle row to the full-outer join).

    Candidate generators derive pairs from ``df``, where neither case
    arises."""
    ids = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    sh = (
        df.join(ids, on=id_col, how="left_semi")
        .withColumn("__th", token_hashes_col(text_col))
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(hashed_shingles_expr("__th", k))
            ).alias("s"),
        )
    )
    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b")
    pa = pairs.join(a, on="id_a").withColumn("__ina", F.lit(1))
    pb = pairs.join(b, on="id_b").withColumn("__inb", F.lit(1))
    stats = (
        pa.join(pb, on=["id_a", "id_b", "s"], how="full")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__n_union"),
            F.count(
                F.when((F.col("__ina") == 1) & (F.col("__inb") == 1), 1)
            ).alias("n_inter"),
        )
    )
    raw = F.col("n_inter") / F.col("__n_union")
    jacc = raw if round_digits is None else F.round(raw, round_digits)
    return stats.select("id_a", "id_b", jacc.alias("jaccard"))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _simhash_lanes(hash_col: str, size_col: str) -> str:
    """The 64-lane bit-majority vote over a bound token-hash array
    column, as ONE SQL string (see the py4j-round-trip note in
    :func:`simhash`). ``size_col`` is the pre-bound token count — bound
    separately so the 128-bit form votes both halves against the same
    denominator without re-evaluating size() per lane."""
    return " | ".join(
        f"(CASE WHEN 2 * aggregate({hash_col}, 0L, (acc, h) -> "
        f"acc + (shiftrightunsigned(h, {b}) & 1L)) > {size_col} "
        f"THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(64)
    )


def simhash(
    df: DataFrame, text_col: str = "text", out: str = "simhash", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document, entirely JVM-side.

    ``bits=128`` emits a 128-bit fingerprint as TWO long columns,
    ``out`` (low 64 lanes) and ``out + "_hi"`` (high 64 lanes, voted
    over an independently-seeded second token-hash stream — the
    standard concat-of-independent-hashes construction). The wider
    fingerprint exists for bucket-space scaling, not extra precision:
    see :func:`simhash_near_pairs` (the 16-bit chunks of the 64-bit
    form give a FIXED 2^16 bucket space, so in-bucket candidate pairs
    grow ~N^2/2^16 — fine to ~10^6 docs, degenerate at 10^9; 32-bit
    chunks push the knee past 10^9).

    Token hashes come from ``xxhash64`` (one pass over the token array);
    the bit-majority vote is 64 count-bits-set lanes expressed as array
    ``filter``+``size`` over the bound hash column — all built-in
    expressions, so the operator whole-stage-codegens and never launches
    a Python worker (round 1's FNV pandas UDF was the repo's last
    per-token Python loop). Stateless, embarrassingly parallel, no
    shuffle.

    The token-hash array is materialized as a named column first: the 64
    lane expressions each reference it, and CollapseProject declines to
    inline a non-cheap expression with multiple references — so
    tokenize+hash runs once per row, not 64 times. Lanes use ``aggregate``
    (a running sum) rather than ``filter``+``size`` — filter allocates a
    new array per lane, measured 2.3× slower.

    An explode→hash-agg shape measured slightly faster on local[32]
    (0.44s vs 0.68s at sf0.1) but costs a shuffle; this form is
    shuffle-free — the posture that wins at 100 TB.
    """
    if bits not in (64, 128):
        raise ValueError(f"bits={bits} unsupported (64 or 128)")
    toks = F.split(F.col(text_col), " ", -1)
    tmp = df.withColumn("__th", F.transform(toks, lambda w: F.xxhash64(w)))
    # The 64-lane majority vote is assembled as ONE SQL string and parsed
    # JVM-side in a single F.expr call. The Column-algebra form of the
    # same tree (64 × aggregate/shiftright/when/bitwiseOR) cost ~400 py4j
    # round-trips PER INVOCATION — ~0.5 s of pure driver-side build
    # latency before any data moved (the dominant term of the planted
    # selfpair contract query). The parsed tree is identical: same lanes,
    # same majority rule, same b=63 sign-bit wrap.
    tmp = tmp.withColumn(out, F.expr(_simhash_lanes("__th", "size(__th)")))
    if bits == 128:
        # independent second stream: xxhash64 over (token, seed-lit) —
        # a different input tuple, so the two 64-bit halves vote on
        # uncorrelated bit matrices
        tmp = tmp.withColumn(
            "__th2", F.transform(toks, lambda w: F.xxhash64(w, F.lit(1)))
        ).withColumn(
            f"{out}_hi", F.expr(_simhash_lanes("__th2", "size(__th2)"))
        ).drop("__th2")
    return tmp.drop("__th")


def simhash_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    checkpoint: bool = False,
) -> DataFrame:
    """(id, simhash[, simhash_hi], chunk, cv) — each doc's pigeonhole
    bucket keys PLUS its full fingerprint: the frame a deployment
    PERSISTS per corpus for incremental SimHash dedup (the ``seen_chunks``
    seam of :func:`incremental_simhash_dedup`, mirroring what
    :func:`banded_signatures` is to the MinHash family). Unlike the
    banded seam, the chunk frame carries everything the VERIFY needs
    too (hamming distance is computed from the fingerprints riding the
    candidate join) — a batch never touches corpus text at all: h+1
    rows of three-or-four longs per seen doc is the entire per-batch
    read.

    Chunking contract (pigeonhole): a pair within hamming ≤ h shares at
    least one identical chunk only when there are h+1 chunks; chunk c
    covers bits [c·bits//(h+1), (c+1)·bits//(h+1)). The (max_hamming,
    bits) pair is stamped into the ``cv`` column metadata and validated
    by consumers — chunk keys from different parameterizations never
    (or spuriously) match. ``checkpoint`` eagerly materializes the
    signature frame before the explode (the self-join callers' shape;
    pointless for a frame about to be persisted anyway)."""
    if bits not in (64, 128):
        raise ValueError(f"bits={bits} unsupported (64 or 128)")
    lo_bound = 0 if bits == 64 else 1  # 128-bit: one 128-wide chunk
    # can't fit in a LongType bucket key, so h=0 needs bits=64
    if not lo_bound <= max_hamming <= bits - 1:
        raise ValueError(
            f"max_hamming={max_hamming} out of range "
            f"[{lo_bound}, {bits - 1}] for bits={bits}"
        )
    n_chunks = max_hamming + 1
    # chunk c covers bits [c·bits//n, (c+1)·bits//n) — widths differ by
    # at most one bit when n doesn't divide the fingerprint width
    bounds = [
        (c * bits // n_chunks, (c + 1) * bits // n_chunks)
        for c in range(n_chunks)
    ]
    sig_cols = ["simhash"] if bits == 64 else ["simhash", "simhash_hi"]
    sigged = simhash(df, text_col, bits=bits).select(id_col, *sig_cols)
    if checkpoint:
        # lazy: both self-join sides share the one checkpointed RDD, so
        # the first evaluation computes the 64-lane signatures once and
        # persists them — eager paid a dedicated build job for the same
        # materialization (r16, guide §1.2)
        sigged = sigged.localCheckpoint(eager=False)

    def _chunk_value(lo: int, hi: int):
        """Bits [lo, hi) of the fingerprint; for 128-bit signatures the
        low long is `simhash`, the high long `simhash_hi`, and a chunk
        may straddle the long boundary."""
        width = hi - lo
        def _slice(col: str, s: int, w: int):
            # w == 64 → the shifted value IS the whole long: the mask
            # (1<<64)-1 would overflow LongType, and none is needed
            shifted = F.shiftrightunsigned(col, s)
            if w == 64:
                return shifted
            return shifted.bitwiseAND(F.lit((1 << w) - 1))

        if hi <= 64:
            return _slice("simhash", lo, width)
        if lo >= 64:
            return _slice("simhash_hi", lo - 64, width)
        # straddle: low part from `simhash` (64-lo bits), high part from
        # `simhash_hi` shifted up past it. lo < 64 < hi ⇒ both shift
        # amounts are in (0, 64), no Java mod-64 shift wrap hazard.
        lo_part = F.shiftrightunsigned("simhash", lo)
        hi_part = F.shiftleft(
            F.col("simhash_hi").bitwiseAND(F.lit((1 << (hi - 64)) - 1)),
            64 - lo,
        )
        return lo_part.bitwiseOR(hi_part)

    out = sigged.select(
        id_col,
        *sig_cols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    _chunk_value(lo, hi).alias("cv"),
                )
                for c, (lo, hi) in enumerate(bounds)
            ])
        ).alias("cc"),
    ).select(id_col, *sig_cols, "cc.chunk", "cc.cv")
    meta = {"max_hamming": max_hamming, "bits": bits}
    return out.withColumn("cv", F.col("cv").alias("cv", metadata=meta))


def _validate_chunk_params(
    chunks: DataFrame, max_hamming: int, bits: int
) -> DataFrame:
    """The :func:`_validate_banded_params` twin for the SimHash chunk
    seam: fail fast on (max_hamming, bits) drift between a persisted
    chunk frame and the batch side, via the ``cv`` column metadata when
    present, else the persisted ``__mh``/``__bits`` stamp columns (the
    manifest read path drops metadata) — which are also dropped from
    the returned frame. The fingerprint and chunk columns are required
    either way."""
    need = {"chunk", "cv", "simhash"} | ({"simhash_hi"} if bits == 128 else set())
    cols = set(chunks.columns)
    if not need <= cols:
        raise ValueError(
            f"seen_chunks must carry {sorted(need)} columns; got "
            f"{sorted(cols)}"
        )
    want = {"max_hamming": max_hamming, "bits": bits}
    for f in chunks.schema.fields:
        if f.name != "cv" or not f.metadata:
            continue
        stamp = {p: f.metadata.get(p) for p in ("max_hamming", "bits")}
        if any(v is not None and v != want[p] for p, v in stamp.items()):
            raise ValueError(
                f"seen_chunks was built with "
                f"{ {p: v for p, v in stamp.items() if v is not None} } "
                f"but this batch is being signed with {want}; chunk keys "
                "from different parameterizations never match — rebuild "
                "one side"
            )
    stamp_cols = ("__mh", "__bits")
    if set(stamp_cols) <= cols:
        head = chunks.select(*stamp_cols).head(1)
        if head:
            got = dict(zip(("max_hamming", "bits"), head[0]))
            if any(v is not None and v != want[p] for p, v in got.items()):
                raise ValueError(
                    f"seen_chunks' persisted stamp says {got} but this "
                    f"batch is being signed with {want}; chunk keys from "
                    "different parameterizations never match — rebuild "
                    "one side"
                )
        chunks = chunks.drop(*stamp_cols)
    return chunks


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    transitive: bool = True,
    max_iter: int = 20,
    checkpoint: bool = True,
) -> DataFrame:
    """Drop SimHash near-duplicates, one survivor (the lowest id) per
    duplicate cluster — the :func:`minhash_dedup` semantics over the
    hamming-radius pair surface of :func:`simhash_near_pairs` (same
    transitive/single-link contract, same connected-components
    machinery)."""
    pairs = simhash_near_pairs(
        df, id_col, text_col, max_hamming, checkpoint=checkpoint, bits=bits
    )
    if transitive:
        comps = connected_components(pairs, "id_a", "id_b", max_iter)
        losers = comps.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def incremental_simhash_dedup(
    new_df: DataFrame,
    seen_df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    within_batch: bool = False,
    seen_chunks: DataFrame | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Drop new-batch docs within SimHash hamming radius of ANY
    already-ingested doc — the third member of the incremental family
    (exact keys / MinHash bands / SimHash chunks), batch×corpus never
    corpus×corpus.

    Candidates come from the batch's pigeonhole chunk keys equi-joined
    against the CORPUS's chunk frame; ``seen_chunks`` accepts the
    persisted :func:`simhash_chunks` frame (h+1 rows of 3-4 longs per
    doc) so nightly batches never re-sign the corpus — and because the
    chunk frame carries the full fingerprints, the VERIFY (exact XOR
    popcount ≤ h) also runs off it: unlike the MinHash path's
    shingle-Jaccard verify, the batch never reads corpus TEXT at all.
    A batch doc sharing an id with a seen doc is still compared (the
    sides are split; nothing keys on id), so the same-id re-crawl case
    is handled by construction. ``within_batch=True`` then runs
    :func:`simhash_dedup` over the cross-corpus survivors (the seen
    corpus has no in-radius pairs to resolve by induction, making the
    two-step equal to a full dedup restricted to new ids).

    Parameter drift between a persisted chunk frame and this batch's
    signing raises (metadata stamp, or the ``__mh``/``__bits`` stamp
    columns on manifest-persisted frames)."""
    if seen_chunks is not None:
        sc = _validate_chunk_params(seen_chunks, max_hamming, bits)
    else:
        if seen_df is None:
            raise ValueError("pass seen_df or seen_chunks")
        sc = simhash_chunks(seen_df, id_col, text_col, max_hamming, bits)
    nc = simhash_chunks(new_df, id_col, text_col, max_hamming, bits,
                        checkpoint=checkpoint)
    a = nc.select(
        F.col(id_col).alias("__new_id"), F.col("simhash").alias("sig_a"),
        *([F.col("simhash_hi").alias("sig_a_hi")] if bits == 128 else []),
        "chunk", "cv",
    )
    b = sc.select(
        F.col("simhash").alias("sig_b"),
        *([F.col("simhash_hi").alias("sig_b_hi")] if bits == 128 else []),
        "chunk", "cv",
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    if bits == 128:
        ham = ham + F.bit_count(F.col("sig_a_hi").bitwiseXOR(F.col("sig_b_hi")))
    losers = (
        a.join(b, on=["chunk", "cv"])
        .filter(ham <= max_hamming)
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    out = new_df.join(losers, on=id_col, how="left_anti")
    if within_batch:
        out = simhash_dedup(out, id_col, text_col, max_hamming, bits,
                            checkpoint=checkpoint)
    return out


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    checkpoint: bool = True,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on signature chunks, then
    verify hamming distance inside buckets only.

    The chunk count DERIVES from the radius: a pair within hamming ≤ h
    of ``bits`` bits shares ≥1 identical chunk only when there are h+1
    chunks (pigeonhole — with fewer, the differing bits can land one per
    chunk and the pair never meets, silently dropping qualifying pairs).
    The default h=3 → 4 sixteen-bit chunks; larger radii get narrower
    chunks (coarser buckets, more verification work — the correct
    recall/cost trade, made explicit instead of broken).

    **Bucket-space scaling (``bits=128``)**: chunk width is what bounds
    the candidate count — two random docs collide on a chunk with
    probability 2^-width, so in-bucket pairs grow ~(h+1)·N²/2^width.
    Sixteen-bit chunks (the 64-bit default) give a FIXED 2^16 bucket
    space: sound to ~10^6 docs, degenerate at web scale (the sf3 curve
    already measured the onset: 3× corpus → 3.46× wall). ``bits=128``
    keeps h+1 = 4 chunks but at 32 bits each — collision probability
    2^-32, pushing the quadratic knee past 10^9 docs — at the cost of a
    second 64-lane signature pass. Note the RADIUS SEMANTICS change
    with the fingerprint: hamming ≤ 3 of 128 bits is a relatively
    tighter similarity bar than 3 of 64 (simhash bit-agreement ≈ cosine
    of the token-frequency vectors, estimated over 2× the sample).

    The (id, signature) frame is localCheckpoint-ed before the
    self-join: both join sides would otherwise recompute the 64-lane
    signature from raw text (a self-join duplicates its child's
    lineage). 16 bytes/doc of executor storage buys halving the
    dominant cost — the same materialize-the-narrow-sketch shape that
    holds at corpus scale. ``checkpoint=False`` skips the eager
    materialization for callers on tiny bounded inputs (the planted
    contract fixtures): there, the extra job costs more than
    recomputing 100 signatures twice."""
    chunks = simhash_chunks(df, id_col, text_col, max_hamming, bits,
                            checkpoint=checkpoint)
    sig_cols = ["simhash"] if bits == 64 else ["simhash", "simhash_hi"]
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        *([F.col("simhash_hi").alias("sig_a_hi")] if bits == 128 else []),
        "chunk", "cv",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        *([F.col("simhash_hi").alias("sig_b_hi")] if bits == 128 else []),
        "chunk", "cv",
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    if bits == 128:
        ham = ham + F.bit_count(F.col("sig_a_hi").bitwiseXOR(F.col("sig_b_hi")))
    return (
        a.join(b, on=["chunk", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (scoped)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope_col: str | None = "source",
    threshold: float = 0.5,
    prefix_filter: bool = False,
) -> DataFrame:
    """All-pairs exact token-set Jaccard within a scope partition.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    ``prefix_filter=True`` (VERDICT r10 'do this' #4) applies
    POSITIONAL PREFIX FILTERING (Chaudhuri et al. 2006; Xiao et al.
    2008, PPJoin): tokens are totally ordered by ascending document
    frequency (ties by token), and each doc indexes only its first
    p = |d| − ⌈t·|d|⌉ + 1 tokens in that order. Two sets with
    Jaccard ≥ t MUST share a prefix token under any common total order
    (if all shared tokens sat outside one side's prefix, the overlap
    would be < ⌈t·|d|⌉ ≤ the minimum J ≥ t requires), so the candidate
    surface is complete; survivors are then verified with the full
    EXACT intersection — output is bit-identical to the unfiltered
    form. Rarest-first ordering puts stop words at the END of every
    doc, so a hot token's inverted list only receives docs for which it
    is among their p rarest — the per-token candidate blowup that made
    the raw inverted-index join quadratic in document frequency on
    stop-word-dense scopes is bounded by construction.

    ``prefix_filter=False`` (default) keeps the raw inverted-index join
    (docs meet on ANY shared token): fewer stages, and on corpora whose
    co-token mass is RARE-token-driven it is strictly faster — measured
    at sf1.0 on the synthetic corpus, the prefix cut candidates 3.12M →
    3.11M (0.3%) while paying an extra freq agg + per-doc window + a
    second verify join (19 → 25 s); the planted stop-word test shows
    the opposite regime, where the prefix bounds an otherwise quadratic
    hot-token blowup (SCALE.md §Weak-query ledger). Use LSH first at
    corpus scale and this for verification or per-bucket passes; turn
    the prefix on for stop-word-dense scopes.

    Tokens are xxhash64-compressed before every join (the
    :func:`jaccard_verify` basis): the shuffle/join key is 8 bytes
    instead of a variable-length string — measured 19 → 11 s at sf1.0
    with identical output (2^-64 collisions are noise next to the
    sketches this verifies).
    """
    toks = df.select(
        F.col(id_col),
        *( [F.col(scope_col)] if scope_col else [] ),
        F.explode(F.array_distinct(F.split(F.col(text_col), " ", -1))).alias("__w0"),
    ).select(
        F.col(id_col),
        *( [F.col(scope_col)] if scope_col else [] ),
        F.xxhash64(F.col("__w0")).alias("w"),
    )
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    join_keys = (["w", scope_col] if scope_col else ["w"])
    if prefix_filter:
        # document frequency per token (per scope when scoped: docs only
        # ever meet within a scope, so a per-scope order is a valid
        # common total order for every comparable pair)
        freq = toks.groupBy(*join_keys).agg(
            F.count(F.lit(1)).alias("__df")
        )
        order_w = Window.partitionBy(
            *([id_col, scope_col] if scope_col else [id_col])
        ).orderBy(F.asc("__df"), F.asc("w"))
        ranked = (
            toks.join(freq, on=join_keys)
            .withColumn("__rnk", F.row_number().over(order_w))
            .withColumn("__sz", F.count(F.lit(1)).over(
                Window.partitionBy(id_col)
            ))
        )
        # prefix length p = n − ceil(t·n) + 1, with the ceil taken on
        # (t·n − ε): the double product can overshoot an exactly-integer
        # t·n by one ulp (0.28·25 → 7.000000000000001 → ceil 8), which
        # would SHORTEN the prefix and drop exact-threshold pairs. The
        # epsilon only ever errs toward a LONGER prefix (more
        # candidates, never fewer) — the safe direction, since the
        # exact verify below rejects any extras.
        lit_t = F.lit(float(threshold))
        prefix = ranked.filter(
            F.col("__rnk")
            <= F.col("__sz")
            - F.ceil(lit_t * F.col("__sz") - F.lit(1e-9))
            + F.lit(1)
        ).select(id_col, *join_keys)
        pa = prefix.withColumnRenamed(id_col, "id_a")
        pb = prefix.withColumnRenamed(id_col, "id_b")
        cands = (
            pa.join(pb, on=join_keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # exact verify: full-token intersection, candidate-bounded. The
        # scope key rides BOTH verify joins so an id that (dirtily)
        # appears under several scopes counts per-scope matches exactly
        # as the raw path's (w, scope) join does; prefix CANDIDACY
        # completeness still assumes each id lives in one scope (the
        # frame contract everywhere in this module) — with ids spanning
        # scopes, use the raw path.
        scope_keys = [scope_col] if scope_col else []
        ta = toks.select(F.col(id_col).alias("id_a"), *scope_keys, "w")
        tb = toks.select(F.col(id_col).alias("id_b"), *scope_keys, "w")
        inter = (
            cands.join(ta, on="id_a")
            .join(tb, on=["id_b", "w", *scope_keys])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        a = toks.withColumnRenamed(id_col, "id_a")
        b = toks.withColumnRenamed(id_col, "id_b")
        inter = (
            a.join(b, on=join_keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    na = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a")
    nb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b")
    # threshold on the RAW ratio; round only in the projected output —
    # rounding first would admit pairs in [threshold-ulp, threshold) that
    # the exact oracle rejects (ADVICE r1)
    raw = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(na, on="id_a")
        .join(nb, on="id_b")
        .withColumn("__jacc", raw)
        .filter(F.col("__jacc") >= threshold)
        .select("id_a", "id_b", F.round("__jacc", 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2021)
# --------------------------------------------------------------------------

def duplicate_span_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    distinct: bool = True,
) -> DataFrame:
    """Token positions covered by a NON-FIRST occurrence of any k-gram
    that appears more than once in the corpus — the position surface of
    exact SUBSTRING-level dedup (Lee et al. 2021, arXiv:2107.06499:
    repeated ≥k-token spans are removed from LLM training corpora
    because doc-level dedup misses boilerplate shared across otherwise
    distinct pages). Returns (id, pos) with pos 0-based.

    Semantics: every k-token window is identified by the xxhash64 of
    its k token hashes (the MinHash shingle basis; 2^-64 collisions can
    at worst excise one spurious window — the contamination-hashed
    tolerance); the FIRST occurrence in (id, pos) order is kept, every
    other occurrence marks its k covered positions. Overlapping and
    adjacent duplicate windows merge naturally at the position level,
    so maximal repeated spans come out excised end to end while their
    first occurrence survives verbatim. Within-doc repeats (the same
    gram twice in one doc) mark the later occurrence — a template that
    stutters inside a page is cut too.

    Plan shape at scale: one generator projection (no shuffle) to
    per-position gram hashes, ONE groupBy on the 8-byte gram key with
    map-side partial agg (count + min-(id,pos) struct), one join back
    on the gram key, one distinct on the covered positions — linear,
    never all-pairs, and the gram frame is (id, int, long) rows. Docs
    shorter than k tokens produce no windows and are never touched.
    Power-of-two k takes the :func:`hashed_shingles_pow2` doubling
    basis (log2(k) zip_with passes instead of k element_at probes per
    window): at sf0.1 the two bases tie within noise (in-process A/B
    0.30-0.36 vs 0.29-0.32 s — this corpus's docs are short), but the
    doubling form is the measured 2.3× winner on the long-doc sf1.0
    contamination corpus at the same k=8, and the gram identity is
    plan-local either way, so the scale basis is the default.

    ``distinct=True`` (the public contract: one row per (id, pos)) pays
    a shuffle the excision paths don't need — a LEFT ANTI join treats
    duplicate right-side keys identically, so the ``remove_*`` forms
    pass ``distinct=False`` (in-process A/B: 0.53-0.66 → 0.44-0.53 s at
    sf0.1, identical output)."""
    grams = _gram_positions(df, id_col, text_col, k)
    firsts = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("gpos").alias("p"))).alias("__f"),
    )
    dups = grams.join(firsts, on="g").filter(
        (F.col("__c") > 1)
        & ~(
            (F.col(id_col) == F.col("__f.i"))
            & (F.col("gpos") == F.col("__f.p"))
        )
    )
    return _covered_positions(
        dups.select(id_col, "gpos"), id_col, k, distinct
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    broadcast_cov: bool = False,
) -> DataFrame:
    """Corpus with every duplicated ≥k-token span excised, first
    occurrence kept (:func:`duplicate_span_positions` gives the cut
    surface) — exact substring-level dedup as one lazy plan. Returns
    (id, text_dedup, n_removed): the reassembled text (surviving tokens
    in original order, single-space joined) and the number of tokens
    cut. A doc whose every token is covered comes back as an empty
    string, not a dropped row — span dedup edits documents, it does not
    delete them (doc-level dedup is :func:`exact_dedup` /
    :func:`minhash_dedup`'s job)."""
    # distinct=False: the anti-join in _excise_positions treats
    # duplicate covered keys identically — skipping the distinct's
    # shuffle was an in-process-A/B win (see duplicate_span_positions)
    covered = duplicate_span_positions(df, id_col, text_col, k,
                                       distinct=False)
    return _excise_positions(df, covered, id_col, text_col,
                             broadcast_cov=broadcast_cov)


def _covered_positions(
    starts: DataFrame, id_col: str, k: int, distinct: bool
) -> DataFrame:
    """Expand gram-start rows (id, gpos) to the k covered token
    positions (id, pos) — the shared cut-surface stage of all three
    span operators (full, incremental, decontamination-redact)."""
    out = starts.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("gpos"), F.col("gpos") + F.lit(k - 1))
        ).alias("pos"),
    )
    return out.distinct() if distinct else out


def _excise_positions(
    df: DataFrame, covered: DataFrame, id_col: str, text_col: str,
    split_pat: str = " ", join_sep: str = " ",
    broadcast_cov: bool = False,
) -> DataFrame:
    """Cut the (id, pos) ``covered`` tokens out of ``df`` and reassemble:
    (id, text_dedup, n_removed) — the shared output stage of both
    span-dedup forms. Surviving tokens rejoin in original order (sorted
    (pos, tok) structs); a fully-covered doc yields an empty string row,
    never a dropped row; a NULL-text row passes through VERBATIM
    (text_dedup null, n_removed 0 — the span gate must not rewrite a
    null to '' and change what `text IS NULL` sees downstream; code
    review r11). An UNTOUCHED doc (no covered position) also passes
    through verbatim — the single-space rejoin must not silently
    normalize a doc the operator had no reason to edit (kept == n is
    the zero-cost detection; only genuinely-cut docs get rebuilt
    text). Precondition: ``id_col`` is unique in ``df`` — the
    reassembly is per-id, so duplicate ids would interleave their
    token streams.

    Doc-gated projection rebuild (r12, VERDICT r11 #1): ``covered`` is
    consumed EXACTLY ONCE — one groupBy(id) collects each hit doc's cut
    positions into a sorted array (the only shuffle this stage adds,
    and it shuffles only the hit fraction's positions, ~1-5% of docs at
    realistic decontamination/dedup hit rates). That small frame
    left-joins onto the corpus (AQE broadcasts it when small) and the
    excision itself is a pure JVM projection: the sorted cut positions
    are turned into their complement gap-intervals with one zip_with,
    and the surviving text is flatten(transform(gaps, slice(tokens)))
    — no posexplode, no full-corpus groupBy rebuild, no second
    evaluation of the covered plan. The pre-r12 shape posexploded and
    groupBy-rebuilt EVERY doc's tokens (full-corpus shuffle even at 1%
    hit rates); at 100 TB that is the difference between re-shuffling
    the corpus and re-shuffling the hit docs' position lists.
    Untouched docs never reach the rebuild arm and pass through
    VERBATIM (n_removed=0) by construction, as do NULL-text rows
    (no grams ⇒ never in ``covered`` ⇒ text_dedup stays NULL).

    ``split_pat``/``join_sep`` pick the excision UNIT: the span family
    cuts space-separated tokens (default); :func:`paragraph_dedup`
    reuses the identical doc-gated machinery at paragraph granularity
    (split regex and join literal must denote the same separator)."""
    cov_agg = covered.groupBy(id_col).agg(
        F.array_sort(F.array_distinct(F.collect_list("pos"))).alias("__ps")
    )
    if broadcast_cov:
        # toy-SF hint only (SCALE.md toy-switch rule): the bench
        # session runs AQE off, so the small cov_agg side otherwise
        # lands in a 32-partition SortMergeJoin that shuffles the whole
        # corpus by id. At real SF the hint must stay OFF — cov_agg is
        # hit-rate-sized (unbounded) and AQE (on at scale) makes the
        # runtime call instead.
        cov_agg = F.broadcast(cov_agg)
    joined = df.join(cov_agg, on=id_col, how="left")
    # The rebuild projection as TWO parsed SQL strings (r16, the Fix-5
    # technique — ~0.26 s of py4j HOF-lambda construction per
    # invocation before, ~4 ms parsed; the expression tree is
    # term-for-term the Column-algebra form it replaces).
    # complement gaps of the sorted cut positions, [s, e) half-open
    # 0-based: leading [0, ps[0]), between-cuts [ps[i]+1, ps[i+1]),
    # trailing [ps[last]+1, n_tokens). Zero-length gaps slice to empty
    # arrays; flatten makes ONE copy of the survivors total (no
    # per-iteration accumulator copying). The split pattern and join
    # separator are LITERALS rendered through the localrel escaper
    # (ADVICE r15 #3 — never splice raw strings into SQL).
    from pyspark.sql import types as T

    from newsmaper_etl_spark.localrel import _sql_lit

    t = _qc(text_col)
    pat = _sql_lit(split_pat, T.StringType())
    sep = _sql_lit(join_sep, T.StringType())
    toks = f"split({t}, {pat}, -1)"
    gaps = (
        "concat("
        "array(named_struct('s', 0, 'e', element_at(__ps, 1))), "
        "zip_with(slice(__ps, 1, size(__ps) - 1), "
        "slice(__ps, 2, size(__ps) - 1), "
        "(a, b) -> named_struct('s', a + 1, 'e', b)), "
        f"array(named_struct('s', element_at(__ps, -1) + 1, "
        f"'e', size({toks}))))"
    )
    kept = (
        f"flatten(transform({gaps}, "
        f"g -> slice({toks}, g.s + 1, greatest(g.e - g.s, 0))))"
    )
    text_dedup = (
        f"CASE WHEN {t} IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN __ps IS NULL THEN {t} "
        f"ELSE array_join({kept}, {sep}) END"
    )
    n_removed = (
        "CAST(CASE WHEN __ps IS NULL THEN 0 ELSE size(__ps) END AS INT)"
    )
    return joined.select(
        F.col(id_col),
        F.expr(text_dedup).alias("text_dedup"),
        F.expr(n_removed).alias("n_removed"),
    )


def _gram_positions(df: DataFrame, id_col: str, text_col: str,
                    k: int) -> DataFrame:
    """(id, gpos, g): the per-position k-gram hash frame both span-dedup
    forms build — pow2 doubling basis where applicable (see
    :func:`duplicate_span_positions`); docs shorter than k yield no
    rows."""
    tmp = df.withColumn("__th", token_hashes_col(text_col))
    if 2 <= k <= 16 and (k & (k - 1)) == 0:
        tmp, gcol = hashed_shingles_pow2(tmp, "__th", k)
        sh = F.col(gcol)
    else:
        sh = hashed_shingles_expr("__th", k)
    return tmp.select(
        F.col(id_col),
        F.posexplode(
            F.when(F.size(F.col("__th")) >= k, sh)
            .otherwise(F.expr("CAST(array() AS array<bigint>)"))
        ).alias("gpos", "g"),
    )


def corpus_gram_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """The persistable index of :func:`incremental_remove_duplicate_spans`:
    the corpus's DISTINCT k-gram hashes, one 8-byte column. Honest size
    disclosure: unlike the banded/chunks indexes (a few longs per DOC),
    this is ~one long per corpus TOKEN — the same reason the
    suffix-array literature builds its structure offline; at 100 TB it
    shards by hash range and still beats re-gramming the corpus per
    batch by the corpus/batch ratio."""
    return _gram_positions(df, id_col, text_col, k).select("g").distinct()


def _validate_gram_params(seen_grams: DataFrame, k: int) -> DataFrame:
    """Fail fast when a persisted gram frame was built at a different
    window width than this batch's signing — mismatched k (or gram
    basis) never errors on its own, it just matches NOTHING and
    silently disables all corpus-side excision (code review r11; the
    streaming path already guards via keyindex.check_stamp(GRAMS, …) —
    this covers the library/curate/SQL seams). Frames carrying the
    persisted ``__gk`` stamp column are checked with one pruned
    one-row read and returned without it; unstamped frames (fresh
    corpus_gram_index output) are accepted as-is."""
    if "g" not in seen_grams.columns:
        raise ValueError(
            f"seen_grams must carry a 'g' column; got {seen_grams.columns}"
        )
    if "__gk" in seen_grams.columns:
        head = seen_grams.select("__gk").head(1)
        if head and head[0][0] != k:
            raise ValueError(
                f"seen_grams was built with k={head[0][0]} but this "
                f"batch is being signed with k={k}; gram hashes from "
                "different window widths never match — rebuild one side"
            )
        seen_grams = seen_grams.drop("__gk")
    return seen_grams


def incremental_duplicate_span_positions(
    new_df: DataFrame,
    seen_df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    seen_grams: DataFrame | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Batch token positions covered by a k-gram the CORPUS already
    contains (the corpus's retained occurrence is by definition first)
    or by a non-first within-batch repeat — the incremental form of
    :func:`duplicate_span_positions`, batch×index instead of a
    corpus-wide re-group. Given a corpus whose own spans were excised
    when IT was ingested (the induction every incremental_* operator in
    this module states), this equals the full-corpus run restricted to
    batch rows.

    ``seen_grams`` accepts the persisted :func:`corpus_gram_index`
    frame; per-batch cost is then batch grams ⋈ index (left semi — only
    the batch side ever shuffles its positions) plus the batch-internal
    first-occurrence group."""
    if seen_grams is None:
        if seen_df is None:
            raise ValueError("pass seen_df or seen_grams")
        seen_grams = corpus_gram_index(seen_df, id_col, text_col, k)
    else:
        seen_grams = _validate_gram_params(seen_grams, k)
    ng = _gram_positions(new_df, id_col, text_col, k)
    cov_corpus = ng.join(seen_grams.select("g"), on="g", how="left_semi")
    firsts = ng.groupBy("g").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("gpos").alias("p"))
        ).alias("__f"),
    )
    cov_batch = ng.join(firsts, on="g").filter(
        (F.col("__c") > 1)
        & ~(
            (F.col(id_col) == F.col("__f.i"))
            & (F.col("gpos") == F.col("__f.p"))
        )
    )
    # the gram frame feeds both branches and is deliberately RECOMPUTED
    # (thin generator output — the q_rare_tokens recompute-vs-persist
    # rule; see incremental_paragraph_dedup's twin comment)
    starts = cov_corpus.select(id_col, "gpos").unionAll(
        cov_batch.select(id_col, "gpos")
    )
    return _covered_positions(starts, id_col, k, distinct)


def incremental_remove_duplicate_spans(
    new_df: DataFrame,
    seen_df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    seen_grams: DataFrame | None = None,
    broadcast_cov: bool = False,
) -> DataFrame:
    """The batch with every span the corpus (or an earlier batch
    position) already holds excised — (id, text_dedup, n_removed), the
    :func:`remove_duplicate_spans` output shape over
    :func:`incremental_duplicate_span_positions`'s cut surface."""
    covered = incremental_duplicate_span_positions(
        new_df, seen_df, id_col, text_col, k, seen_grams=seen_grams,
        distinct=False,
    )
    return _excise_positions(new_df, covered, id_col, text_col,
                             broadcast_cov=broadcast_cov)


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------

#: Bloom pre-filter sizing for contamination_check: bits per eval gram
#: (k=1 probe → false-positive rate ≈ 1 − e^(−1/16) ≈ 6%) and the cap
#: on eval grams collected to the driver to build the mask (1M grams →
#: a 2 MB long-array literal, broadcast once per stage with the task
#: binary). Above the cap the pre-filter is skipped — correct either
#: way, the bloom only prunes rows the join would reject.
_CONTAM_BLOOM_BITS_PER_GRAM = 16
_CONTAM_BLOOM_MAX_GRAMS = 1_000_000


def _bloom_mask(hashes: list[int]) -> tuple[list[int], int]:
    """k=1 Bloom bitmask over 64-bit hashes as SIGNED longs (the
    ``F.lit(list)`` array type): word = (h >>> 6) % n_longs, bit =
    h & 63 — both operands non-negative on both sides, so the build
    and the JVM probe agree for any n_longs (a signed-vs-unsigned
    modulo mismatch here produced false negatives; caught by the
    hashed/string parity test). Vectorized build; returns
    (mask, n_longs).

    Representation notes from two measured dead ends: ``F.lit(list)``
    is really CreateArray-of-children, which ConstantFolding collapses
    to one Literal in an ordinary Filter — but NOT inside a lambda
    body, where a 16k-element mask was reconstructed per exists()
    probe (3.6 s → 264 s at sf1.0); and a '0'/'1' STRING mask is a
    true Literal but ``substr(pos, 1)`` on a megabyte UTF8String
    byte-scans to the character index — O(pos) per probe. Callers must
    therefore keep the probe OUT of higher-order-function lambdas, on
    the exploded gram rows."""
    import numpy as np

    n_bits = max(1024, _CONTAM_BLOOM_BITS_PER_GRAM * len(hashes))
    n_longs = (n_bits + 63) // 64
    mask = np.zeros(n_longs, dtype=np.uint64)
    if hashes:
        h = np.array(hashes, dtype=np.int64).view(np.uint64)
        word = ((h >> np.uint64(6)) % np.uint64(n_longs)).astype(np.int64)
        bit = np.uint64(1) << (h & np.uint64(63))
        np.bitwise_or.at(mask, word, bit)
    return [int(x) for x in mask.view(np.int64)], n_longs


def _bloom_might_contain(gh, mask_lit, n_longs: int):
    """JVM-side membership probe mirroring :func:`_bloom_mask` — pure
    built-in bit-ops (shiftrightunsigned/pmod/element_at/bit_get) that
    stay inside whole-stage codegen on the exploded-gram hot path. The
    shifted word index is non-negative, so pmod equals the build's
    unsigned modulo for any n_longs."""
    idx = F.pmod(F.shiftrightunsigned(gh, 6), F.lit(n_longs)).cast(
        "int"
    ) + F.lit(1)
    return F.bit_get(
        F.element_at(mask_lit, idx), gh.bitwiseAND(F.lit(63))
    ) == F.lit(1)


def redact_contaminated_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    exclude_same_id: bool = True,
    broadcast_cov: bool = False,
) -> DataFrame:
    """SPAN-LEVEL decontamination: every corpus token position covered
    by an n-gram that also appears in the benchmark/eval set is EXCISED
    from the text — the surgical counterpart of
    :func:`contamination_check` (which flags whole documents for a
    drop decision). Dropping a 50k-token page over one leaked question
    throws away clean training text; redaction keeps the page and cuts
    exactly the overlapping spans (adjacent/overlapping hits merge at
    the position level). Returns (id, text_dedup, n_removed) — the
    :func:`remove_duplicate_spans` output shape; rows are edited, never
    dropped.

    Plan shape: the eval side reduces to its distinct gram hashes and
    BROADCASTS (benchmarks are ~10³-10⁵ docs); the corpus side explodes
    to (id, pos, gram-hash) rows and takes one broadcast LEFT SEMI —
    the bulk corpus never shuffles for the match, and only HIT
    positions reach the excision anti-join. Gram basis = the xxhash64
    token-hash windows shared with contamination_check's hashed path
    (2^-64 collisions can at worst redact one spurious window).
    ``exclude_same_id`` keeps the same self-flag contract as
    contamination_check: only valid when the eval set was drawn from
    the corpus under the SAME ids."""
    e_grams = (
        _gram_positions(eval_df, id_col, text_col, n)
        .select(F.col(id_col).alias("__eid"), "g")
        .distinct()
    )
    cg = _gram_positions(corpus, id_col, text_col, n)
    if exclude_same_id:
        hits = (
            cg.join(F.broadcast(e_grams), on="g")
            .filter(F.col(id_col) != F.col("__eid"))
            .select(id_col, "gpos")
        )
    else:
        hits = cg.join(
            F.broadcast(e_grams.select("g").distinct()), on="g",
            how="left_semi",
        ).select(id_col, "gpos")
    covered = _covered_positions(hits, id_col, n, distinct=False)
    return _excise_positions(corpus, covered, id_col, text_col,
                             broadcast_cov=broadcast_cov)


#: highest doc id the paragraph first-occurrence key can encode:
#: okey = id·10^6 + pos with pos < 10^6 must stay inside int64, so
#: id ≤ (2^63 − 1 − 999_999) / 10^6. Ids above (hash-derived 64-bit
#: ids) or negative ids (pos would INVERT the order) raise instead of
#: silently mis-ranking — the sampling module's _require_numeric_id
#: guard idiom, enforced per-row here because the bound is on VALUES.
_PARA_MAX_ID = (2**63 - 1 - 999_999) // 1_000_000


def _regex_quote(s: str) -> str:
    r"""Quote a literal string for use as a Java regex (the
    ``\Q...\E`` form, with embedded ``\E`` escaped the way
    ``java.util.regex.Pattern.quote`` does) — paragraph separators are
    LITERALS in the contract (split pattern, rejoin literal and the
    DuckDB oracle's literal string_split must all denote the same
    separator), so a metacharacter-bearing sep ('.', '|', '++') must
    not silently become a per-character split (code review r12)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _para_okey(id_col: str) -> Column:
    """The encoded (id·10^6 + pos) first-occurrence key, guarded: any
    row whose id falls outside [0, _PARA_MAX_ID] or whose paragraph
    count reaches 10^6 raises at execution (two long compares in the
    projection's own codegen — no extra pass, no action)."""
    ok = (
        (F.col(id_col) >= 0)
        & (F.col(id_col) <= F.lit(_PARA_MAX_ID))
        & (F.col("pos") < F.lit(1_000_000))
    )
    return F.when(
        ok, F.col(id_col) * F.lit(1_000_000) + F.col("pos")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "paragraph_dedup: id=%s pos=%s outside the encodable "
                "domain (0 <= id <= "
                f"{_PARA_MAX_ID}, pos < 1000000)",
                F.col(id_col).cast("string"), F.col("pos").cast("string"),
            )
        ).cast("long")
    )


def _para_first_removed(
    paras: DataFrame, id_col: str, ph_col: str, salt: int | None
) -> DataFrame:
    """Shared first-occurrence-loser stage of both paragraph-dedup
    forms: the (id, pos) rows whose encoded key is NOT their
    paragraph-hash group's minimum.

    ``salt=None`` (default) is the window form — one exchange, the
    measured latency winner at every rig-reachable scale (SCALE.md
    round-6 skew A/B: salting is a memory/straggler bound, not a
    latency win). But window partitioning has NO map-side partial
    aggregation: every occurrence of one hash lands in ONE task's
    sort, and hot paragraphs are this operator's TARGET (a cookie
    banner in >1 % of a web corpus is ~10^8 rows of one key at 10^10
    docs — the hot task IS the stage). ``salt=N`` (any N ≥ 1) switches
    to the skew-hardened groupBy + join-back form: min is
    decomposable, so the groupBy's map-side partial min fans the hot
    key across every map task (one surviving row per task — the
    explicit salt buckets :func:`dedup_keep_first` needs for
    row_number are redundant for min, which is why N's value is not
    used) and the join-back is a JOIN, which AQE's skew handling can
    split at runtime — unlike a skewed WINDOW partition, which nothing
    splits. Output identical for any salt; plan-asserted in tests."""
    okey = _para_okey(id_col)
    if salt:
        firsts = paras.groupBy(ph_col).agg(F.min(okey).alias("__first"))
        return (
            paras.join(firsts, on=ph_col)
            .filter(okey != F.col("__first"))
            .select(id_col, "pos")
        )
    return (
        paras.withColumn(
            "__first", F.min(okey).over(Window.partitionBy(ph_col))
        )
        .filter(okey != F.col("__first"))
        .select(id_col, "pos")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    broadcast_cov: bool = False,
    salt: int | None = None,
) -> DataFrame:
    """Corpus-wide EXACT paragraph dedup, first occurrence kept — the
    C4/FineWeb pass between doc-level dedup (whole pages) and span
    dedup (arbitrary ≥k-token repeats): a paragraph that already
    appeared earlier in the corpus (by (id, position) order) is removed
    from every later document, killing repeated boilerplate blocks
    (footers, license headers, nav text) without touching the page they
    first appeared on. Returns (id, text_dedup, n_removed) where
    n_removed counts paragraphs cut; a doc whose every paragraph is
    covered comes back as '' (edited, never dropped — the span-family
    contract), NULL text passes through NULL, untouched docs verbatim.

    Exact strings ⇒ fully deterministic and SQL-oracle-able end to end
    (q_paragraph_dedup hash-checks text_dedup itself), unlike the
    sketch-based near-dup family.

    EMPTY paragraphs are INERT: a zero-length paragraph (consecutive or
    trailing separators, or an empty/fully-excised document) is a
    separator artifact, not content — it never enrolls in the dedup
    group, is never excised, and never enters the paragraph index.
    This is also what makes the operator idempotent on fully-cut docs:
    a doc reduced to '' re-splits to one empty paragraph on a second
    pass and passes through verbatim instead of duplicating some other
    fully-cut doc's '' (advisor r12, the invariant-(c) latent flake).

    Plan shape at scale: one generator projection to (id, pos,
    xxhash64(para)) — paragraph STRINGS never shuffle, only 8-byte
    hashes (2^-64 collision tolerance, the hashed-contamination rule) —
    the first-occurrence stage (:func:`_para_first_removed`: window min
    by default, ``salt=`` for the skew-hardened groupBy + join-back
    form when ultra-hot boilerplate paragraphs are expected — see its
    docstring), then the shared doc-gated projection rebuild
    (:func:`_excise_positions` at paragraph granularity: only docs that
    actually lose a paragraph are rebuilt). Linear, never all-pairs.
    Contracts, GUARDED per-row by :func:`_para_okey` (raise, never
    mis-rank): < 10^6 paragraphs per document and
    0 ≤ id ≤ ~9.22·10^12 (the int64 key encoding — hash-derived 64-bit
    ids need remapping first).

    ``sep`` is a LITERAL: it is regex-quoted before the split
    (:func:`_regex_quote`) and used verbatim in the rejoin, so
    metacharacter-bearing separators work."""
    paras = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.col(text_col), _regex_quote(sep), -1)
            ).alias("pos", "__para"),
        )
        .filter(F.col("__para") != "")
        .select(
            F.col(id_col),
            F.col("pos"),
            F.xxhash64(F.col("__para")).alias("__ph"),
        )
    )
    removed = _para_first_removed(paras, id_col, "__ph", salt)
    return _excise_positions(
        df, removed, id_col, text_col, split_pat=_regex_quote(sep),
        join_sep=sep, broadcast_cov=broadcast_cov,
    )


def corpus_paragraph_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """The persistable index of :func:`incremental_paragraph_dedup`:
    the corpus's DISTINCT paragraph hashes, one 8-byte ``ph`` column —
    a few longs per DOC (paragraph counts are small), far lighter than
    the per-token gram index the span family carries. Empty paragraphs
    never enroll (the :func:`paragraph_dedup` inertness rule — an
    enrolled xxhash64('') would silently excise every future empty
    paragraph, advisor r12)."""
    return (
        df.select(
            F.explode(
                F.split(F.col(text_col), _regex_quote(sep), -1)
            ).alias("__para")
        )
        .filter(F.col("__para") != "")
        .select(F.xxhash64(F.col("__para")).alias("ph"))
        .distinct()
    )


def incremental_paragraph_dedup(
    new_df: DataFrame,
    seen_df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    seen_paras: DataFrame | None = None,
    broadcast_cov: bool = False,
    salt: int | None = None,
) -> DataFrame:
    """The nightly-batch form of :func:`paragraph_dedup`: a batch
    paragraph is removed when the CORPUS already holds it (the corpus's
    retained occurrence is by definition first) or when an earlier
    batch position does (within-batch keep-first) — batch×index cost,
    never a corpus-wide re-group. Same induction as every incremental_*
    here: the corpus's own repeats were resolved when IT was ingested.

    ``seen_paras`` accepts the persisted :func:`corpus_paragraph_index`
    frame; the batch side then pays one projection to (id, pos, hash),
    one left-semi against the index, one within-batch group, and the
    doc-gated rebuild — per-batch cost scales with the batch and the
    index, not the corpus text. Empty paragraphs are inert and
    ``salt=`` picks the skew-hardened within-batch first-occurrence
    form (the :func:`paragraph_dedup` contracts; id-domain guard
    applies)."""
    if seen_paras is None:
        if seen_df is None:
            raise ValueError("pass seen_df or seen_paras")
        seen_paras = corpus_paragraph_index(seen_df, id_col, text_col, sep)
    paras = (
        new_df.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.col(text_col), _regex_quote(sep), -1)
            ).alias("pos", "__para"),
        )
        .filter(F.col("__para") != "")
        .select(
            F.col(id_col), F.col("pos"),
            F.xxhash64(F.col("__para")).alias("ph"),
        )
    )
    cov_corpus = paras.join(
        seen_paras.select("ph"), on="ph", how="left_semi"
    ).select(id_col, "pos")
    cov_batch = _para_first_removed(paras, id_col, "ph", salt)
    # paras feeds both branches and is deliberately RECOMPUTED, not
    # checkpointed: under AQE the two consumers re-run the batch's
    # split/explode/hash projection — a thin generator whose recompute
    # is cheaper than materializing its output (the measured
    # q_rare_tokens rule: persist compact DERIVED frames like tfidf's
    # histogram, recompute cheap wide-fanout generators; SCALE.md
    # weak-query ledger r13)
    removed = cov_corpus.unionAll(cov_batch)
    return _excise_positions(
        new_df, removed, id_col, text_col, split_pat=_regex_quote(sep),
        join_sep=sep, broadcast_cov=broadcast_cov,
    )


def contamination_check(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_eval: bool = True,
    hashed: bool = True,
    exclude_same_id: bool = True,
    bloom: bool = False,
) -> DataFrame:
    """Flag training documents sharing any n-gram with a benchmark/eval
    set → ``(id, n_contam)`` with n_contam = #distinct contaminated
    n-grams (the n-gram-overlap decontamination rule used for LLM
    training corpora; 8-13 token windows are the conventional range).

    Plan shape: both sides explode to DISTINCT string n-grams (linear
    generator, no shuffle), then one equi-join on the n-gram + one
    count aggregate. The eval side is tiny by construction (benchmarks
    are ~10³-10⁵ docs vs the corpus's ~10⁹), so it is broadcast by
    default and the bulk corpus never shuffles: the only exchanged rows
    are the JOIN HITS (grams actually shared with the benchmark — a
    vanishingly small slice), which the post-join distinct + count
    aggregate shuffle by (id, gram). ``bloom=True`` (default OFF —
    measured a net LOSS on this workload shape, see below) gates each
    exploded corpus gram behind a broadcast Bloom bitmask of the eval
    grams' hashes (k=1, 16 bits/gram → ~6 % false positives; three
    bit-ops per gram in the explode's own stage) so ~94 % of grams
    never reach the join's hash relation; the mask is built from a
    driver collect bounded by ``_CONTAM_BLOOM_MAX_GRAMS`` (skipped
    above it), reused as the join relation so the eval side derives
    once, and cannot change the output (no false negatives; the exact
    join rejects false positives — see the in-body comment for why the
    gate is per-gram, not per-doc). Default OFF because the bottleneck
    is the corpus-side SHINGLE CONSTRUCTION, which no gram filter
    reaches: at sf1.0 bloom cost 2.79 → 3.65 s (hashed) and 5.17 →
    6.22 s (string) — the per-invocation mask-collect job exceeds what
    the probe saves when the broadcast relation is already tiny. Turn
    it on when the eval set is large enough that the join's hash
    relation (not the explode) dominates. With ``exclude_same_id`` (the
    default) an eval doc also present in the corpus under the SAME id
    doesn't flag itself — only valid when the eval set was drawn from
    the corpus; for an EXTERNAL benchmark whose id space is independent
    of the corpus's, pass ``exclude_same_id=False`` or a coincidental
    id equality silently suppresses real contamination.

    ``hashed=True`` (the default — this IS the 100 TB path): grams
    become 8-byte xxhash64 values over token hashes (the minhash shingle
    basis), cutting the exploded corpus volume ~6× and turning the join
    key comparison into a long equality; a 2⁻⁶⁴ collision can at worst
    over-flag one doc by one gram, which decontamination tolerates
    (measured 1.8× faster at sf1.0). ``hashed=False`` keeps string
    shingles — engine-portable, therefore oracle-checkable — for audit
    runs and the DuckDB parity contracts; q_contamination_parity pins
    per-row equality of both paths, and the hashed default is
    hash-checked against the STRING-gram oracle at every driver round
    (q_contamination_hashed). Tested equivalent on the test corpus
    (tests/test_curation.py).
    """
    if hashed:
        pow2 = n >= 2 and n <= 16 and (n & (n - 1)) == 0

        def _grams(d: DataFrame, out_id: str, distinct: bool) -> DataFrame:
            tmp = d.withColumn("__th", token_hashes_col(text_col))
            if pow2:
                # log2(n) zip_with doubling passes instead of n
                # element_at probes per window — measured 2.29 → 1.94 s
                # at sf1.0 (the gram hash basis is plan-local here, so
                # the composed identity is free to differ from
                # hashed_shingles_expr)
                tmp, gcol = hashed_shingles_pow2(tmp, "__th", n)
                sh = F.when(
                    F.size(F.col("__th")) >= n, F.col(gcol)
                ).otherwise(F.array(F.xxhash64(F.col("__th"))))
            else:
                sh = hashed_shingles_expr("__th", n)
            return tmp.select(
                F.col(id_col).alias(out_id),
                F.explode(F.array_distinct(sh) if distinct else sh).alias("g"),
            )

        def _probe(g):
            return g
    else:
        def _grams(d: DataFrame, out_id: str, distinct: bool) -> DataFrame:
            tmp = d.withColumn("__tk", F.split(F.col(text_col), " ", -1))
            sh = shingles_from_tokens(F.col("__tk"), n)
            return tmp.select(
                F.col(id_col).alias(out_id),
                F.explode(F.array_distinct(sh) if distinct else sh).alias("g"),
            )

        def _probe(g):
            return F.xxhash64(g)

    # eval side keeps per-doc distinct (shrinks the broadcast); the
    # corpus side does NOT pre-distinct its gram array — the post-join
    # (id, g) distinct already dedups, and the interpreted array_distinct
    # per doc cost more than the few duplicate probes it saved
    # (measured 5.56 → 4.82 s string / 1.94 → 1.80 s hashed at sf1.0)
    e_grams = _grams(eval_df, "eval_id", distinct=True).distinct()
    gram_filter = None
    if bloom:
        # Bloom pre-filter (VERDICT r09 'do this' #3), applied at GRAM
        # altitude — each exploded corpus gram probes a broadcast bit
        # mask of the eval grams' hashes (one pmod + one O(1) substr on
        # a string Literal, inside the explode's own stage) so ~94 % of
        # grams never reach the join's hash relation. NOT at doc
        # altitude: a doc-level exists() gate over the shingle array
        # looks cheaper (94 % of docs would never explode) but is a
        # Catalyst trap — PushPredicateThroughProject inlines the
        # shingle/token aliases into the Filter condition, where
        # hashed_shingles_expr's 8 element_at references re-evaluate
        # the token-hash transform PER SHINGLE ELEMENT (the HOF
        # recompute pitfall at O(tokens²) per doc interpreted; measured
        # 3.6 s → 264 s at sf1.0 before the string-mask fix and still
        # pathological after). Exactness is untouched either way: every
        # true eval gram is in the mask (no false negatives) and the
        # real join rejects the false positives. The mask is built from
        # a bounded driver collect of the eval gram rows — the operator
        # already assumes the benchmark is broadcast-tiny — and that
        # SAME collect becomes the join relation (a local frame), so
        # the eval derivation runs once, not once for the mask plus
        # once for the broadcast (the naive form measured 2× the eval
        # scan cost at sf1.0). Above the cap the pre-filter silently
        # drops out and the original distributed shape runs.
        e_rows = (
            e_grams.select("eval_id", "g", _probe(F.col("g")).alias("__gh"))
            .limit(_CONTAM_BLOOM_MAX_GRAMS + 1).collect()
        )
        if len(e_rows) <= _CONTAM_BLOOM_MAX_GRAMS:
            from pyspark.sql.types import (
                LongType, StringType, StructField, StructType,
            )

            mask_vals, n_longs = _bloom_mask([r["__gh"] for r in e_rows])
            mask = F.lit(mask_vals)
            def gram_filter(c):
                return _bloom_might_contain(_probe(c), mask, n_longs)
            spark = corpus.sparkSession
            e_grams = spark.createDataFrame(
                [(r["eval_id"], r["g"]) for r in e_rows],
                StructType([
                    StructField("eval_id", eval_df.schema[id_col].dataType),
                    StructField("g", LongType() if hashed else StringType()),
                ]),
            )
    c_grams = _grams(corpus, "id", distinct=False)
    if gram_filter is not None:
        c_grams = c_grams.filter(gram_filter(F.col("g")))
    if broadcast_eval:
        e_grams = F.broadcast(e_grams)
    hits = c_grams.join(e_grams, on="g")
    if exclude_same_id:
        hits = hits.filter(F.col("id") != F.col("eval_id"))
    hits = hits.select("id", "g").distinct()
    return hits.groupBy("id").agg(F.count(F.lit(1)).alias("n_contam"))
