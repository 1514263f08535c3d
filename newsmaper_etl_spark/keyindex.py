"""Persisted side indexes for streaming ingest dedup — the side tables
that make corpus-level content gates batch-scaled at 100 TB.

A per-batch gate that re-reads the corpus snapshot (the r7 exact-key
dedup anti-joined every micro-batch against ``manifest.read_table`` of
the FULL table) pays an O(corpus) scan per batch forever. Each gate here
instead reads a narrow manifest-committed side table inside the table
dir (``<table>/<subdir>`` — it travels with the table on a move, and
``manifest.vacuum`` only walks ``<table>/data/``):

- ``_keys``: two xxhash64 lanes per committed exact key (16 bytes/doc;
  the :func:`operators.dedup.exact_dedup` ``hash_keys=True`` basis, so
  NULL keys compare equal and collision odds are ~2⁻¹²⁸ per pair);
- ``_banded``: MinHash band keys (:func:`operators.dedup.banded_signatures`);
- ``_chunks``: SimHash pigeonhole chunks + fingerprints;
- ``_semcells``: SemDeDup (cell, LSH table, bucket) keys under frozen
  centroids kept at ``_semcentroids`` (with drift telemetry and an
  offline rebuild);
- ``_grams``: substring-span dedup's distinct gram hashes;
- ``_paras``: paragraph dedup's distinct paragraph hashes;
- ``_domains``: per-batch per-domain stat deltas for the domain gate;
- ``_gumbel``: per-batch local top-k DSIR Gumbel partials.

Every kind is one :class:`SideIndex` spec, and so is the stateless
classifier gate: the :func:`streaming.pipeline.write_stream_manifest`
keyword that configures it with its defaults, required keys and
telemetry label, the subdir, stamp columns and the stamp values a
configuration implies, the function that derives index rows from a
frame, the gate, the bootstrap ``op_detail`` tag and the compaction.
Each spec's comment documents its keyword's keys; :data:`CHAIN` is the
run order. One set of generic functions runs them: :func:`gate_chain`
(normalize every keyword), :func:`read_index` (optionally at a pinned
version), :func:`check_stamp`, :func:`ensure_index_bootstrap`,
:func:`append_batch_index` and :func:`compact_index`, all committing
through :func:`txn_append`.

Crash-safety invariant (single writer, as documented on the sink): an
index never runs AHEAD of the data table. Data commits first, each
index after it, each guarded by its own (app_id, batch_id) txn
high-water mark; a crash between two commits leaves the later indexes
one batch behind, and the foreachBatch replay of that same batch
repairs them (commits already made skip via their marks, the pending
ones proceed via theirs). The replay reads every index and the data
table at their PRE-batch versions (:func:`replay_version`), so it
re-derives exactly the rows the original run committed. Because batch
keys are anti-joined against ``_keys`` BEFORE append, a key dropped
during replay is by construction already present — the repair can never
lose a key. ``_keys`` is an EVER-SEEN registry: keys survive row
deletes/rewrites of the main table, which is the documented "key-level
at-most-once across the table's whole history" contract.

Reference parity note: the reference dedups by re-reading its whole SQL
table per DAG run (`newsmaperdag.py` search_id/is_in_base per-row
lookups); this module is the scale-correct form of that contract.
"""
from __future__ import annotations

import os
import zlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from newsmaper_etl_spark import manifest as M
from newsmaper_etl_spark.operators import dedup as D
from newsmaper_etl_spark.operators import selection as SEL
from newsmaper_etl_spark.operators import similarity as S
from newsmaper_etl_spark.operators import web as W

_BOOT_APP_SUFFIX = "#keyindex-bootstrap"


@dataclass(frozen=True, eq=False)
class SideIndex:
    """One stage of the streaming ingest chain (:data:`CHAIN`) and the
    persisted side index it keeps, if any: the whole contract of one
    :func:`streaming.pipeline.write_stream_manifest` gate keyword (or of
    one ``method`` of it).
    ``cfg`` below is that keyword's dict as :func:`gate_config`
    normalizes it."""

    #: the ``write_stream_manifest`` keyword whose dict configures it
    keyword: str
    #: subdir under the table; None for a stateless stage with no side
    #: table (no bootstrap, replay pin, index append or compaction)
    sub: str | None = None
    #: cfg defaults. A ``"method"`` default names this spec among the
    #: specs that share its keyword (the first in :data:`CHAIN` is the
    #: keyword's default method)
    defaults: dict = field(default_factory=dict)
    #: cfg keys with no default
    required: tuple[str, ...] = ()
    #: cfg → None, raising ValueError on a config the gate can't honour
    check: Callable[[dict], None] | None = None
    #: gate-count telemetry label of the stage's output (None: uncounted)
    label: str | None = None
    #: cfg key naming a column whose footer stats every data commit
    #: records (the candidate point fetch of :func:`_seen_rows` prunes
    #: files on it)
    data_stat_col: str | None = None
    #: name of the module-level gate ``(batch_df, table, cfg,
    #: index_version, data_version) → gated batch``, looked up on this
    #: module at call time. It reads its index at ``index_version`` and
    #: the data table at ``data_version`` (the :func:`replay_version`
    #: pins; None = current) and returns its input unchanged or an
    #: eagerly materialized frame: the gated batch feeds the data commit
    #: AND every index append, which must see identical rows (the
    #: classifier's lazy filter is deterministic). None for a side
    #: output that gates nothing
    gate: str | None = None
    #: ``op_detail`` of the bootstrap commit
    boot_tag: str = ""
    #: constant stamp columns (their footer min=max stats ride the
    #: manifest, so the stamp survives parquet round-trips, compaction
    #: and vacuum, and is validated driver-side with no Spark job —
    #: column METADATA would not survive the manifest's recorded-DDL read)
    stamp: tuple[str, ...] = ()
    #: cfg → stamp values
    stamp_of: Callable[[dict], tuple] = lambda cfg: ()
    #: (frame, cfg) → unstamped index rows for that frame
    rows: Callable[[DataFrame, dict], DataFrame] | None = None
    #: what a drifted stamp breaks, for the drift error
    basis: str = ""
    #: columns the stored rows are a set over: new rows are anti-joined
    #: against the index on them before each append
    set_on: tuple[str, ...] = ()
    #: (src_df, table, cfg, app) → cfg, run before deriving rows
    prepare: Callable | None = None
    #: (src_df, cfg) → extra commit meta
    meta: Callable | None = None
    #: (spark, table, cfg) → version; default: file-level M.compact
    compact: Callable | None = None

    def path(self, table: str) -> str:
        return os.path.join(table, self.sub)


def gate_config(spec: SideIndex, raw: dict) -> dict:
    """``raw`` over the spec's defaults; raises ValueError naming the
    keyword and the key when a required key is missing."""
    cfg = {**spec.defaults, **raw}
    for key in spec.required:
        if key not in cfg:
            raise ValueError(f"{spec.keyword} requires a {key!r} entry")
    if spec.check is not None:
        spec.check(cfg)
    return cfg


def gate_chain(**configs: dict | None) -> list[tuple[SideIndex, dict]]:
    """The stages ``configs`` (``write_stream_manifest`` keyword → raw
    dict) configure, in :data:`CHAIN` order, each with its normalized
    cfg. Only None configures nothing: any dict, an empty one included,
    configures its stage and raises ValueError when it lacks a required
    key. A keyword that several specs share picks one by its
    ``"method"`` entry."""
    chosen: dict[SideIndex, dict] = {}
    for kw, raw in configs.items():
        if raw is None:
            continue
        specs = [s for s in CHAIN if s.keyword == kw]
        if len(specs) > 1:
            methods = [s.defaults["method"] for s in specs]
            method = raw.get("method", methods[0])
            if method not in methods:
                raise ValueError(
                    f"{kw} method={method!r} ({', '.join(methods)})")
            specs = [specs[methods.index(method)]]
        chosen[specs[0]] = gate_config(specs[0], raw)
    return [(s, chosen[s]) for s in CHAIN if s in chosen]


# --------------------------------------------------------------------------
# Stamps
# --------------------------------------------------------------------------

def _with_stamp(df: DataFrame, cols: tuple[str, ...], values: tuple) -> DataFrame:
    for c, v in zip(cols, values):
        df = df.withColumn(c, F.lit(v))
    return df


def _read_stamp(tablepath: str, cols: tuple[str, ...]) -> dict | None:
    """The constant stamp values recorded in a side table's manifest
    footer stats (driver-side, no Spark job), or None when the table is
    absent. Raises on a non-constant stamp column (files signed under
    drifting parameters — an index that must be rebuilt)."""
    v = M.current_version(tablepath)
    if v == 0:
        return None
    m = M._load_manifest(tablepath, v)
    out: dict = {}
    for e in m["files"]:
        st = e.get("stats", {})
        for c in cols:
            rng = st.get(c)
            if rng is None:
                continue
            if rng[0] != rng[1] or (c in out and out[c] != rng[0]):
                raise ValueError(
                    f"index at {tablepath} carries a drifting stamp "
                    f"{c}={rng} vs {out.get(c)}; rebuild the index"
                )
            out[c] = rng[0]
    return out or None


def check_stamp(spec: SideIndex, table: str, want: tuple) -> None:
    """Raise when the persisted index was signed under different
    parameters than ``want`` — mismatched parameterizations don't fail,
    they silently produce keys that never (or spuriously) collide."""
    if not spec.stamp:
        return
    path = spec.path(table)
    got = _read_stamp(path, spec.stamp) or {}
    for c, w in zip(spec.stamp, want):
        if c in got and got[c] != w:
            raise ValueError(
                f"{path} was signed with {c}={got[c]} but this batch uses "
                f"{c}={w}; {spec.basis} never match — rebuild the index "
                "or match the parameters"
            )


# --------------------------------------------------------------------------
# Generic side-index operations
# --------------------------------------------------------------------------

def read_index(
    spec: SideIndex, spark: SparkSession, table: str,
    version: int | None = None,
) -> DataFrame | None:
    """The index rows (stamp columns dropped), or None when the index is
    absent at ``version`` (default: current). A pinned version 0 — the
    pre-batch state of an index the replayed batch itself created — is
    the empty index, so it is None too."""
    path = spec.path(table)
    v = M.current_version(path) if version is None else version
    if v == 0:
        return None
    return M.read_table(spark, path, version=v).drop(*spec.stamp)


def replay_version(path: str, app: str, batch_id: int) -> int | None:
    """The version of ``path`` just BEFORE the commit that carried
    ``(app, batch_id)`` — the state the original run of a replayed batch
    saw — or None when that commit never happened (or was vacuumed past:
    callers then read the current snapshot).

    A replayed batch must read the data table and every index it gates
    on at these versions: unpinned, it matches its own committed rows
    and empties itself out, and every index commit still pending is
    appended from an empty frame — permanently losing the batch's
    keys/signatures."""
    v = M.txn_commit_version(path, app, int(batch_id))
    return None if v is None else v - 1


def txn_append(df: DataFrame, path: str, app: str, txn_version: int,
               **kw) -> None:
    """``M.append`` under the ``(app, txn_version)`` mark. A writer that
    died between the manifest CLAIM and the pointer flip leaves its own
    claim blocking the next version: that orphan (recognized by its txn
    mark) is cleared and the append retried once. A claim held by a
    DIFFERENT writer is a genuine race and re-raises."""
    txn = (app, int(txn_version))
    try:
        M.append(df, path, txn=txn, **kw)
    except M.ConcurrentWriteError:
        if not M.repair_claimed_orphan(path, *txn):
            raise
        M.append(df, path, txn=txn, **kw)


def _write_rows(spec: SideIndex, src: DataFrame, table: str, cfg: dict,
                app: str, txn: tuple[str, int], meta: dict) -> None:
    """Derive, stamp and commit ``src``'s index rows under ``txn`` on
    behalf of writer ``app``."""
    if spec.prepare is not None:
        cfg = spec.prepare(src, table, cfg, app)
    want = spec.stamp_of(cfg)
    check_stamp(spec, table, want)
    rows = spec.rows(src, cfg)
    if spec.set_on:
        idx = read_index(spec, src.sparkSession, table)
        if idx is not None:
            rows = rows.join(idx, on=list(spec.set_on), how="left_anti")
    if spec.meta is not None:
        meta = {**meta, **spec.meta(src, cfg)}
    txn_append(_with_stamp(rows, spec.stamp, want), spec.path(table), *txn,
               stat_cols=spec.stamp, meta=meta)


def ensure_index_bootstrap(
    spec: SideIndex, spark: SparkSession, table: str, cfg: dict, app: str,
    version: int | None = None,
) -> bool:
    """One-time index build for a table that predates the index (rows
    committed before the gate was configured): derive the index rows
    from the snapshot — the single deliberate O(corpus) pass, paid once
    instead of per batch — and commit them as the index's first version
    under ``(app + "#keyindex-bootstrap", 0)``. Returns True if a
    bootstrap ran.

    ``version`` pins the build to the PRE-batch snapshot on crash
    replay: signing the current snapshot would enroll the replayed
    batch's OWN rows, and every batch row would then match itself.
    ``version=0`` (the table was empty pre-batch) bootstraps nothing —
    the replay re-derives the batch and its txn-marked appends rebuild
    the index completely."""
    v = M.current_version(table) if version is None else version
    if M.current_version(spec.path(table)) > 0 or v == 0:
        return False
    _write_rows(spec, M.read_table(spark, table, version=v), table, cfg,
                app, (app + _BOOT_APP_SUFFIX, 0),
                {"op_detail": spec.boot_tag, "covers_version": v})
    return True


def append_batch_index(
    spec: SideIndex, batch_df: DataFrame, table: str, cfg: dict, app: str,
    batch_id: int,
) -> bool:
    """Commit the batch's index rows under the writer's ``(app,
    batch_id)`` txn mark — skipped (False) on replay of an already-
    indexed batch. ``batch_df`` must be the AS-COMMITTED rows (post
    every gate): each index then covers exactly what the corpus holds,
    the induction every future batch's gate relies on."""
    if batch_id <= M.last_txn_version(spec.path(table), app):
        return False
    _write_rows(spec, batch_df, table, cfg, app, (app, batch_id),
                {"app": app, "batch_id": int(batch_id)})
    return True


def compact_index(
    spec: SideIndex, spark: SparkSession, table: str, cfg: dict,
    min_file_bytes: int = 4 * 1024 * 1024,
) -> int:
    """Compact the index (per-batch appends add one small file per
    micro-batch forever; the load-bearing win is the object-count
    bin-pack). Returns the index's committed version."""
    if spec.compact is not None:
        return spec.compact(spark, table, cfg)
    path = spec.path(table)
    if M.current_version(path) == 0:
        return 0
    return M.compact(spark, path, min_file_bytes=min_file_bytes,
                     target_file_bytes=64 * 1024 * 1024)


# --------------------------------------------------------------------------
# Exact keys (_keys)
# --------------------------------------------------------------------------

def with_hashed_keys(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append the two 64-bit key lanes (``__hk1``, ``__hk2``) for the
    column tuple — the exact_dedup/incremental_exact_dedup hashed basis
    (isnull interleave makes NULL keys compare equal)."""
    parts: list = []
    for c in cols:
        parts += [F.col(c), F.isnull(F.col(c))]
    return df.withColumn("__hk1", F.xxhash64(*parts)).withColumn(
        "__hk2", F.xxhash64(F.lit(42), *parts)
    )


def anti_join_index(
    batch_df: DataFrame, cols: list[str], index_df: DataFrame
) -> DataFrame:
    """Drop batch rows whose key the index has seen — one hash anti-join
    whose build input is 16 bytes per seen key, never the corpus rows."""
    return (
        with_hashed_keys(batch_df, cols)
        .join(index_df, on=["__hk1", "__hk2"], how="left_anti")
        .drop("__hk1", "__hk2")
    )


def exact_dedup_batch(
    batch_df: DataFrame, table: str, cfg: dict,
    index_version: int | None = None, data_version: int | None = None,
) -> DataFrame:
    """Keep one row per key within the batch (the first by ``order_col``
    — the deterministic contract; an arbitrary survivor without it),
    then drop every row whose key the ``_keys`` index has seen. Returns
    an eagerly materialized frame: without ``order_col`` every
    evaluation of a lazy ``dropDuplicates`` may keep a different
    survivor."""
    cols, order_col = cfg["cols"], cfg["order_col"]
    if order_col:
        batch_df = D.exact_dedup(batch_df, cols, order_col, hash_keys=True)
    else:
        batch_df = batch_df.dropDuplicates(cols)
    idx = read_index(KEYS, batch_df.sparkSession, table, index_version)
    if idx is not None:
        batch_df = anti_join_index(batch_df, cols, idx)
    return batch_df.localCheckpoint(eager=True)


#: ``dedup_keys``: exact-key corpus dedup (the incremental_exact_dedup
#: composition). cfg ``{"cols": [...], "order_col": None}`` carries the
#: sink's ``dedup_keys`` and ``dedup_order_col``. Batch keys are
#: anti-joined on the 128-bit hashed basis against ``_keys``, an
#: EVER-SEEN registry that survives maintenance rewrites of the data
#: table: the txn marks make each BATCH exactly-once, this makes each
#: KEY at-most-once across the table's whole history, whichever feed,
#: restart or re-crawl redelivers it. Per-batch dedup I/O is 16 bytes
#: per seen key, never the corpus (a table predating the index pays one
#: bootstrap scan). Single writer: two pipelines appending the same key
#: in the same instant can both pass the check — the manifest claim
#: serializes commits, not reads. Third in the chain, after the two
#: filters.
KEYS = SideIndex(
    keyword="dedup_keys", sub="_keys", label="after_exact",
    required=("cols",), defaults={"order_col": None},
    gate="exact_dedup_batch", boot_tag="keyindex-bootstrap",
    rows=lambda df, c: (
        with_hashed_keys(df, c["cols"]).select("__hk1", "__hk2").distinct()
    ),
)
key_index_path = KEYS.path


# --------------------------------------------------------------------------
# Candidate verify shared by the MinHash and semantic gates
# --------------------------------------------------------------------------

def _seen_rows(
    batch_df: DataFrame, table: str, cands: DataFrame, id_col: str,
    val_col: str, max_candidate_ids: int, data_version: int | None,
) -> DataFrame | None:
    """The seen side of a candidate verify: the DATA-table ``(id_col,
    val_col)`` rows of every candidate's seen id (``id_b``), read at
    ``data_version`` — or None when there is nothing to verify against:
    no candidates, or a pinned data version 0 (the replayed batch is
    the table's first; nothing was seen before it).

    The fetch uses ``read_table(prune_in=(id, candidate_ids))`` manifest
    file skipping, so an id-clustered (or append-local) table opens the
    few files the candidates touch instead of scanning the corpus. The
    candidate id list is a driver materialization bounded by
    ``max_candidate_ids`` (a batch of B docs against sane bucket
    occupancy yields O(B) candidates); above the cap the fetch scans
    the full snapshot — correct, disclosed, and a sign the LSH
    parameters need retuning. Either way the rows are semi-joined to
    the seen ids of the (materialized) candidate frame itself: a frame
    built from the collected id list would run a Python-worker job per
    batch."""
    if data_version == 0:
        return None
    seen_ids = [
        r[0]
        for r in cands.select("id_b").distinct()
        .limit(max_candidate_ids + 1).collect()
    ]
    if not seen_ids:
        return None
    prune = (id_col, seen_ids) if len(seen_ids) <= max_candidate_ids else None
    return M.read_table(
        batch_df.sparkSession, table, version=data_version, prune_in=prune,
    ).select(id_col, val_col).join(
        cands.select(F.col("id_b").alias(id_col)).distinct(),
        on=id_col, how="left_semi",
    )


def _drop_verified(
    batch_df: DataFrame, table: str, batch_keys: DataFrame,
    idx: DataFrame, on: list[str], id_col: str, val_col: str,
    max_candidate_ids: int, data_version: int | None,
    losers: Callable[[DataFrame, DataFrame], DataFrame],
    within: Callable[[DataFrame], DataFrame] | None,
) -> DataFrame:
    """Candidates = batch keys ⋈ the persisted index on ``on`` (the
    corpus is never re-signed); ``losers(seen, cands)`` verifies them
    against :func:`_seen_rows` and names the batch ids to drop;
    ``within`` is the optional within-batch pass. Returns an eagerly
    materialized frame."""
    cands = (
        batch_keys.withColumnRenamed(id_col, "__new_id")
        .join(idx.withColumnRenamed(id_col, "__seen_id"), on=on)
        .select(F.col("__new_id").alias("id_a"),
                F.col("__seen_id").alias("id_b"))
        .distinct()
    ).persist()
    try:
        seen = _seen_rows(batch_df, table, cands, id_col, val_col,
                          max_candidate_ids, data_version)
        out = batch_df
        if seen is not None:
            out = batch_df.join(losers(seen, cands), on=id_col,
                                how="left_anti")
        if within is not None:
            out = within(out)
        # materialize before unpersisting the candidate frame the plan
        # depends on
        out = out.localCheckpoint(eager=True)
    finally:
        cands.unpersist()
    return out


# --------------------------------------------------------------------------
# MinHash band keys (_banded)
# --------------------------------------------------------------------------

def near_dedup_batch(
    batch_df: DataFrame, table: str, cfg: dict,
    index_version: int | None = None, data_version: int | None = None,
) -> DataFrame:
    """Drop batch docs that near-duplicate ANY already-ingested doc,
    using the persisted banded index — the batch-scaled streaming form
    of :func:`operators.dedup.incremental_minhash_dedup`: candidates
    from the batch's band keys ⋈ the index, verified by exact
    shingle-Jaccard over ONLY the candidate docs (:func:`_seen_rows`).
    The verify is SIDE-SPLIT (:func:`operators.dedup.cross_corpus_losers`):
    each candidate pair scores one distinct shingle-hash array per batch
    id against one per seen row with array set ops, so a same-id
    re-crawl with edited text — which exact-key dedup on text does not
    catch — scores its true Jaccard instead of a corrupted one.
    Parameter drift between the index and this batch's signing raises.
    Returns ``batch_df`` itself when there is nothing to gate (no index,
    no within-batch pass), else an eagerly materialized frame."""
    id_col, text_col, k = cfg["id_col"], cfg["text_col"], cfg["k"]
    within = (
        (lambda df: D.minhash_dedup(df, id_col, text_col, cfg["threshold"],
                                    cfg["num_hashes"], cfg["bands"], k))
        if cfg["within_batch"] else None
    )
    idx = read_index(BANDED, batch_df.sparkSession, table, index_version)
    if idx is None:
        if within is None:
            return batch_df
        return within(batch_df).localCheckpoint(eager=True)
    check_stamp(BANDED, table, BANDED.stamp_of(cfg))
    nb = BANDED.rows(batch_df, cfg)
    return _drop_verified(
        batch_df, table, nb, idx, ["band", "bh"], id_col, text_col,
        cfg["max_candidate_ids"], data_version,
        lambda seen, cands: D.cross_corpus_losers(
            batch_df, seen, cands, id_col, text_col, k, cfg["threshold"]),
        within,
    )


#: ``near_dedup`` (``method: "minhash"``, the default): near-duplicate
#: corpus dedup by token-set overlap (the incremental_minhash_dedup
#: composition, batch-scaled) — robust to reordering and small edits,
#: exact-Jaccard verified. ``id_col`` is required; ``k`` is the shingle
#: width. The ``_banded`` index holds three longs per doc per band,
#: stamped with (num_hashes, bands, k); candidates are batch band keys ⋈
#: the index and the verify fetches only candidate docs from the data
#: table (:func:`near_dedup_batch` has the cost contract and the
#: disclosed over-cap fallback), which is why data commits record
#: ``id_col`` stats. Every near_dedup method runs right after
#: ``dedup_keys``: cheap exact-key drops first shrink the signing work.
BANDED = SideIndex(
    keyword="near_dedup", sub="_banded", label="after_near",
    required=("id_col",), data_stat_col="id_col",
    defaults={"method": "minhash", "text_col": "text", "within_batch": False,
              "threshold": 0.8, "num_hashes": 16, "bands": 4, "k": 3,
              "max_candidate_ids": 100_000},
    gate="near_dedup_batch", boot_tag="bandedindex-bootstrap",
    stamp=("__nh", "__nb", "__k"),
    stamp_of=lambda c: (c["num_hashes"], c["bands"], c["k"]),
    rows=lambda df, c: D.banded_signatures(
        df.select(c["id_col"], c["text_col"]), c["id_col"], c["text_col"],
        c["num_hashes"], c["bands"], c["k"]),
    basis="band keys from different (num_hashes, bands, k) "
          "parameterizations",
)
banded_index_path = BANDED.path


# --------------------------------------------------------------------------
# SimHash chunks (_chunks)
# --------------------------------------------------------------------------

def simhash_dedup_batch(
    batch_df: DataFrame, table: str, cfg: dict,
    index_version: int | None = None, data_version: int | None = None,
) -> DataFrame:
    """Drop batch docs within SimHash hamming radius of ANY ingested
    doc, via the persisted chunk index — the streaming form of
    :func:`operators.dedup.incremental_simhash_dedup`. There is NO
    verify fetch against the data table: the index carries the
    fingerprints, so the per-batch read is exactly the index's h+1
    narrow rows per seen doc. Parameter drift raises. Returns
    ``batch_df`` itself when there is nothing to gate (no index, no
    within-batch pass), else an eagerly materialized frame."""
    id_col, text_col = cfg["id_col"], cfg["text_col"]
    max_hamming, bits = cfg["max_hamming"], cfg["bits"]
    idx = read_index(CHUNKS, batch_df.sparkSession, table, index_version)
    if idx is None:
        if not cfg["within_batch"]:
            return batch_df
        return D.simhash_dedup(batch_df, id_col, text_col, max_hamming,
                               bits).localCheckpoint(eager=True)
    check_stamp(CHUNKS, table, CHUNKS.stamp_of(cfg))
    out = D.incremental_simhash_dedup(
        batch_df, None, id_col, text_col, max_hamming, bits,
        within_batch=cfg["within_batch"], seen_chunks=idx,
    )
    return out.localCheckpoint(eager=True)


#: ``near_dedup`` with ``method: "simhash"``: near-duplicates within a
#: SimHash hamming radius ``max_hamming`` of ``bits``-bit fingerprints
#: (frequency-vector similarity at a fixed bar) over the ``_chunks``
#: pigeonhole index. The index carries the fingerprints, so the verify
#: runs off the candidate join and a batch never reads corpus text or
#: the data table: h+1 narrow rows per seen doc is the whole per-batch
#: dedup read — the smallest of the three methods.
CHUNKS = SideIndex(
    keyword="near_dedup", sub="_chunks", label="after_near",
    required=("id_col",), data_stat_col="id_col",
    defaults={"method": "simhash", "text_col": "text", "within_batch": False,
              "max_hamming": 3, "bits": 64},
    gate="simhash_dedup_batch", boot_tag="chunkindex-bootstrap",
    stamp=("__mh", "__bits"),
    stamp_of=lambda c: (c["max_hamming"], c["bits"]),
    rows=lambda df, c: D.simhash_chunks(
        df.select(c["id_col"], c["text_col"]), c["id_col"], c["text_col"],
        c["max_hamming"], c["bits"]),
    basis="chunk keys from different (max_hamming, bits) parameterizations",
)
chunks_index_path = CHUNKS.path


# --------------------------------------------------------------------------
# Semantic cells (_semcells) under frozen centroids (_semcentroids)
# --------------------------------------------------------------------------

_SEMCENTROIDS_SUB = "_semcentroids"
_SSTAMP = ("__nc", "__np", "__nt", "__dim", "__seed")


def semcentroids_path(table: str) -> str:
    return os.path.join(table, _SEMCENTROIDS_SUB)


def read_semantic_params(table: str) -> dict | None:
    """The frozen (n_centroids, n_planes, n_tables, dim, seed) the
    semantic index was signed under — read from the CENTROIDS table's
    stamp so it is available the moment centroids exist (the crash
    window between the centroid commit and the first cells commit)."""
    st = _read_stamp(semcentroids_path(table), _SSTAMP)
    if st is None:
        return None
    return {"n_centroids": st["__nc"], "n_planes": st["__np"],
            "n_tables": st["__nt"], "dim": st["__dim"],
            "seed": st["__seed"]}


def read_centroids(spark: SparkSession, table: str) -> list[list[float]] | None:
    """The frozen centroid matrix (cell-ordered, bounded n_centroids
    rows — a sanctioned driver materialization). None when absent."""
    ctable = semcentroids_path(table)
    if M.current_version(ctable) == 0:
        return None
    rows = (
        M.read_table(spark, ctable).select("cell", "c")
        .orderBy("cell").collect()
    )
    return [list(r["c"]) for r in rows]


def _centroid_frame(
    spark: SparkSession, cents: list[list[float]], n_centroids: int,
    n_planes: int, n_tables: int, dim: int, seed: int,
) -> DataFrame:
    """The stamped (cell, c) frame both centroid writers commit —
    factored so bootstrap (:func:`_commit_centroids`) and offline
    rebuild (:func:`rebuild_semantic_index`) can never fork the
    centroid-table format. The WHOLE parameterization is frozen at
    index birth: cells from a different centroid set, or buckets from a
    different plane count/seed, never (or spuriously) collide."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    return _with_stamp(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            StructType([
                StructField("cell", IntegerType()),
                StructField("c", ArrayType(DoubleType())),
            ]),
        ),
        _SSTAMP, (n_centroids, n_planes, n_tables, dim, seed),
    )


def _commit_centroids(
    spark: SparkSession, table: str, src_df: DataFrame, vec_col: str,
    dim: int, n_centroids: int, n_planes: int | None, n_tables: int,
    sample_n: int, seed: int, app: str,
) -> list[list[float]]:
    """Train spherical-k-means centroids on ``src_df`` (snapshot at
    bootstrap, or the first batch of a born-streaming table) and commit
    them — WITH the full parameter stamp — as the semantic index's
    frozen assignment basis. Returns the centroids. Idempotent:
    persisted centroids win over retraining (a crash between the
    centroid commit and the first cells commit must not re-train on a
    different frame and silently fork the cell space)."""
    if read_semantic_params(table) is not None:
        return read_centroids(spark, table)
    if n_planes is None:
        n_planes = S._auto_planes(src_df.count())
    cents = S._kmeans_centroids(src_df, vec_col, n_centroids, sample_n,
                                seed=seed)
    cdf = _centroid_frame(spark, cents, n_centroids, n_planes, n_tables,
                          dim, seed)
    txn_append(cdf, semcentroids_path(table), app + _BOOT_APP_SUFFIX, 0,
               stat_cols=_SSTAMP, meta={"op_detail": "semcentroids"})
    # a racer may have committed first: the persisted set is canonical
    return read_centroids(spark, table)


def check_semantic_stamp(table: str, dim: int, n_centroids: int | None,
                         n_tables: int | None, seed: int | None) -> dict:
    """Validate the caller's parameters against the frozen stamp and
    return the full frozen parameterization (the caller takes n_planes —
    and any parameter it passed as None — from the index, not the other
    way around). Raises on drift: cells/buckets signed under different
    centroids, planes, or seeds never (or spuriously) collide."""
    params = read_semantic_params(table)
    if params is None:
        raise ValueError(f"no semantic index at {semcells_index_path(table)}")
    for name, want in (("dim", dim), ("n_centroids", n_centroids),
                       ("n_tables", n_tables), ("seed", seed)):
        if want is not None and params[name] != want:
            raise ValueError(
                f"semantic index at {table} was signed with {name}="
                f"{params[name]} but this batch uses {name}={want}; "
                "rebuild the index or match the parameters"
            )
    return params


def _raise_if_stale(table: str) -> None:
    if semantic_index_stale(table):
        raise ValueError(
            f"semantic index at {table} is mid-rebuild (centroids flipped, "
            "cells not re-signed) — re-run rebuild_semantic_index to "
            "converge before deduping against or committing to it"
        )


def _semantic_prepare(src: DataFrame, table: str, cfg: dict,
                      app: str) -> dict:
    """Resolve the frozen parameterization the cells are keyed and
    stamped under: train + commit the centroids when none exist (a
    born-streaming table trains them on the first batch that reaches
    the index — deterministic for a fixed batch + seed, persisted-wins
    on any replay or race), else adopt the persisted ones. Refuses a
    mid-rebuild index: a commit landing in rebuild_semantic_index's
    crash window would append keys signed under the flipped centroid
    stamp to a cells table still carrying the old one."""
    _raise_if_stale(table)
    cents = _commit_centroids(
        src.sparkSession, table, src.select(cfg["id_col"], cfg["vec_col"]),
        cfg["vec_col"], cfg["dim"], cfg["n_centroids"], cfg["n_planes"],
        cfg["n_tables"], cfg["sample_n"], cfg["seed"], app,
    )
    params = check_semantic_stamp(table, cfg["dim"], cfg["n_centroids"],
                                  cfg["n_tables"], cfg["seed"])
    return {**cfg, **params, "cents": cents}


def semantic_dedup_batch(
    batch_df: DataFrame, table: str, cfg: dict,
    index_version: int | None = None, data_version: int | None = None,
) -> DataFrame:
    """Drop batch docs that semantically duplicate ANY already-ingested
    doc (exact cosine ≥ threshold within the same frozen k-means cell),
    via the persisted cell index — the batch-scaled streaming form of
    :func:`operators.similarity.semantic_dedup` (SemDeDup ran batch-only;
    a 100 TB ingest needs the per-batch cost to be index-sized, not a
    nightly re-cluster).

    Shape mirrors :func:`near_dedup_batch`: candidates = batch (cell,
    t, b) keys ⋈ the persisted index (the corpus is never re-assigned);
    verify = exact cosine on candidate pairs only, seen vectors
    point-fetched by :func:`_seen_rows`. Same-id re-crawl versions in
    the data table verify independently per version row — a batch doc
    drops iff ANY committed version scores ≥ threshold.

    Centroids are FROZEN at index birth: cells stay comparable across
    batches by construction. Corpus drift degrades cell tightness, not
    correctness (every assignment uses the same centroids); re-cluster
    by rebuilding the index offline when drift warrants it. Returns
    ``batch_df`` itself when there is nothing to gate (no index, no
    within-batch pass), else an eagerly materialized frame. A None
    ``n_centroids``, ``n_tables`` or ``seed`` adopts the index's."""
    _raise_if_stale(table)
    id_col, vec_col, dim = cfg["id_col"], cfg["vec_col"], cfg["dim"]
    within = (
        (lambda df: S.semantic_dedup(df, dim, id_col, vec_col,
                                     cfg["threshold"], keep="min_id"))
        if cfg["within_batch"] else None
    )
    spark = batch_df.sparkSession
    idx = read_index(SEMCELLS, spark, table, index_version)
    if idx is None:
        if within is None:
            return batch_df
        return within(batch_df).localCheckpoint(eager=True)
    params = check_semantic_stamp(table, dim, cfg["n_centroids"],
                                  cfg["n_tables"], cfg["seed"])
    nb = S.semantic_cell_keys(
        batch_df.select(id_col, vec_col), dim, id_col, vec_col,
        read_centroids(spark, table), params["n_planes"],
        params["n_tables"], params["seed"],
    )
    return _drop_verified(
        batch_df, table, nb, idx, ["cell", "t", "b"], id_col, vec_col,
        cfg["max_candidate_ids"], data_version,
        lambda seen, cands: S.semantic_losers_vs_seen(
            batch_df, seen, cands, id_col, vec_col, dim, cfg["threshold"]),
        within,
    )


#: ``near_dedup`` with ``method: "semantic"``: embedding-cosine SemDeDup
#: for same-meaning content that shares no tokens (translations,
#: paraphrases, template re-renders; embeddings in ``vec_col``
#: required). The ``_semcells`` index holds (cell, LSH table, bucket)
#: keys under k-means centroids frozen at ``_semcentroids`` when the
#: index is born (trained on ``sample_n`` rows of the bootstrap snapshot
#: or of a born-streaming table's first batch); ``n_planes`` None is
#: sized from occupancy then and read back from the stamp.
#: :func:`semantic_dedup_batch` has the cost contract; every cells
#: commit carries drift telemetry (:func:`semantic_drift_history`).
SEMCELLS = SideIndex(
    keyword="near_dedup", sub="_semcells", label="after_near",
    required=("id_col",), data_stat_col="id_col",
    defaults={"method": "semantic", "text_col": "text", "within_batch": False,
              "vec_col": "embedding", "dim": 64, "threshold": 0.9,
              "n_centroids": 64, "n_planes": None, "n_tables": 8,
              "sample_n": 2048, "seed": 42, "max_candidate_ids": 100_000},
    gate="semantic_dedup_batch", boot_tag="semcells-bootstrap",
    stamp=_SSTAMP,
    stamp_of=lambda c: (c["n_centroids"], c["n_planes"], c["n_tables"],
                        c["dim"], c["seed"]),
    rows=lambda df, c: S.semantic_cell_keys(
        df.select(c["id_col"], c["vec_col"]), c["dim"], c["id_col"],
        c["vec_col"], c["cents"], c["n_planes"], c["n_tables"], c["seed"]),
    basis="cells from different centroids, planes or seeds",
    prepare=_semantic_prepare,
    # drift telemetry riding every cells commit (the bootstrap's entry
    # is the baseline) — see semantic_drift_history
    meta=lambda df, c: {
        "drift": _affinity_stats(df, c["vec_col"], c["cents"], c["dim"])},
)
semcells_index_path = SEMCELLS.path


# --------------------------------------------------------------------------
# Text-edit gates: corpus grams (_grams) and paragraph hashes (_paras)
# --------------------------------------------------------------------------

def _rejoin_edited(batch_df: DataFrame, edited: DataFrame, id_col: str,
                   text_col: str) -> DataFrame:
    """``batch_df`` with ``text_col`` replaced by ``edited.text_dedup``
    (one edited row per id), eagerly materialized: it feeds the data
    commit and the index commit, which must see identical rows."""
    cols = [
        F.col("__e.text_dedup").alias(text_col) if c == text_col
        else F.col(f"__b.{c}")
        for c in batch_df.columns
    ]
    out = (
        batch_df.alias("__b")
        .join(edited.alias("__e"), on=id_col)
        .select(*cols)
    )
    return out.localCheckpoint(eager=True)


def span_dedup_batch(
    batch_df: DataFrame, table: str, cfg: dict,
    index_version: int | None = None, data_version: int | None = None,
) -> DataFrame:
    """EDIT the batch against the persisted gram index: every span the
    corpus already holds (and every within-batch non-first repeat) is
    excised from ``text_col``; all other columns ride through, rows are
    never dropped — span dedup is a rewrite gate, not a filter (the
    :func:`operators.dedup.incremental_remove_duplicate_spans`
    composition on the streaming seam). With no index yet (born-
    streaming first batch), only the within-batch rule applies.

    Honest size note on the ``_grams`` index: ~one 8-byte row per corpus
    TOKEN — orders beyond the per-doc banded/chunks indexes (the
    suffix-array literature builds its structure offline for the same
    reason); at 100 TB it shards by hash range, and per-batch cost is
    still batch grams ⋈ index instead of re-gramming the corpus."""
    spark = batch_df.sparkSession
    id_col, text_col = cfg["id_col"], cfg["text_col"]
    check_stamp(GRAMS, table, GRAMS.stamp_of(cfg))
    idx = read_index(GRAMS, spark, table, index_version)
    if idx is None:
        idx = spark.range(0).select(F.col("id").alias("g"))
    covered = D.incremental_duplicate_span_positions(
        batch_df, None, id_col, text_col, cfg["k"], seen_grams=idx,
        distinct=False,
    )
    # one edited row per id BEFORE the join-back: a duplicate-id batch
    # (at-least-once source without dedup_keys — a contract violation,
    # ids must be batch-unique like every *_batch gate documents) would
    # otherwise multiply rows 2x2 through the many-to-many join; with
    # the dropDuplicates the row COUNT is preserved even on dirty input
    edited = D._excise_positions(
        batch_df, covered, id_col, text_col
    ).dropDuplicates([id_col])
    return _rejoin_edited(batch_df, edited, id_col, text_col)


#: ``span_dedup``: substring-level excision (the
#: incremental_remove_duplicate_spans composition, Lee et al. 2021):
#: every ≥``k``-token span the corpus already holds is cut from the
#: batch's text; rows are edited, never dropped. ``id_col`` is
#: required. The ``_grams`` index holds the distinct gram hashes of the
#: text AS COMMITTED, the induction every later batch's cut relies on.
#: LAST content gate: span excision only pays for rows that will
#: actually commit.
GRAMS = SideIndex(
    keyword="span_dedup", sub="_grams", required=("id_col",),
    defaults={"text_col": "text", "k": 8},
    gate="span_dedup_batch", boot_tag="gramsindex-bootstrap",
    stamp=("__gk",),
    stamp_of=lambda c: (c["k"],),
    rows=lambda df, c: D.corpus_gram_index(
        df.select(c["id_col"], c["text_col"]), c["id_col"], c["text_col"],
        c["k"]),
    basis="gram hashes from different window widths",
    set_on=("g",),
)
grams_index_path = GRAMS.path


def _sep_fingerprint(sep: str) -> int:
    """Deterministic int fingerprint of the separator for the stamp
    column (string parquet footer stats are bytes-typed and not
    JSON-safe across engines)."""
    return zlib.crc32(sep.encode("utf-8"))


def paragraph_dedup_batch(
    batch_df: DataFrame, table: str, cfg: dict,
    index_version: int | None = None, data_version: int | None = None,
) -> DataFrame:
    """EDIT the batch against the persisted paragraph index: every
    paragraph the corpus already holds (and every within-batch
    non-first repeat) is excised from ``text_col``; all other columns
    ride through, rows are never dropped (the
    :func:`operators.dedup.incremental_paragraph_dedup` composition on
    the streaming seam — a rewrite gate, not a filter). With no index
    yet (born-streaming first batch), only the within-batch rule
    applies. The ``_paras`` index is a few 8-byte rows per DOC — the
    lightest side table."""
    spark = batch_df.sparkSession
    id_col, text_col = cfg["id_col"], cfg["text_col"]
    check_stamp(PARAS, table, PARAS.stamp_of(cfg))
    idx = read_index(PARAS, spark, table, index_version)
    if idx is None:
        idx = spark.range(0).select(F.col("id").alias("ph"))
    edited = D.incremental_paragraph_dedup(
        batch_df, None, id_col, text_col, cfg["sep"], seen_paras=idx
    ).dropDuplicates([id_col])
    return _rejoin_edited(batch_df, edited, id_col, text_col)


#: ``para_dedup``: paragraph-level excision (the
#: incremental_paragraph_dedup composition — the C4/FineWeb keep-first
#: boilerplate pass): paragraphs split on ``sep`` that the corpus
#: already holds are cut from the batch's text; rows are edited, never
#: dropped. ``id_col`` is required. Runs after the row-level gates and
#: BEFORE ``span_dedup``: whole repeated paragraphs are cheap per-doc
#: hash cuts, so the span stage's per-token gram pass only sees what
#: survives them.
PARAS = SideIndex(
    keyword="para_dedup", sub="_paras", label="after_para",
    required=("id_col",), defaults={"text_col": "text", "sep": "\n\n"},
    gate="paragraph_dedup_batch", boot_tag="parasindex-bootstrap",
    stamp=("__psep",),
    stamp_of=lambda c: (_sep_fingerprint(c["sep"]),),
    rows=lambda df, c: D.corpus_paragraph_index(
        df.select(c["id_col"], c["text_col"]), c["id_col"], c["text_col"],
        c["sep"]),
    basis="paragraph hashes split under different separators",
    set_on=("ph",),
)
paras_index_path = PARAS.path


# --------------------------------------------------------------------------
# Per-domain statistics (_domains)
# --------------------------------------------------------------------------

def _domains_fingerprint(tokens: bool) -> int:
    """Stamp fingerprint: the PSL rule snapshot the domains were derived
    under (a different rule set groups hosts differently — stats would
    silently mis-merge) plus whether token sums are carried (an index
    without sums cannot later gate on min_sum_tokens)."""
    basis = "\n".join(sorted(W.DEFAULT_PSL_RULES)) + f"\n#tokens={tokens}"
    return zlib.crc32(basis.encode("utf-8"))


def read_domains_index(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame | None:
    """The ACCUMULATED per-domain statistics ``(domain, n_docs
    [, sum_tokens])`` or None when absent. Stored rows are per-batch
    PARTIALS (append-only — counts and sums are decomposable, so a
    batch commit is one tiny delta frame, never a rewrite); the merge
    is one groupBy over a domain-cardinality frame, paid here on read."""
    raw = read_index(DOMAINS, spark, table, version)
    if raw is None:
        return None
    aggs = [F.sum("n_docs").cast("long").alias("n_docs")]
    if "sum_tokens" in raw.columns:
        aggs.append(F.sum("sum_tokens").cast("long").alias("sum_tokens"))
    return raw.groupBy("domain").agg(*aggs)


def domain_gate_batch(
    batch_df: DataFrame, table: str, cfg: dict,
    index_version: int | None = None, data_version: int | None = None,
) -> DataFrame:
    """GATE the batch against the accumulated per-domain statistics
    (:func:`operators.web.domain_gate_incremental` on the streaming
    seam): rows whose domain's combined (index + this batch) stats
    fail the thresholds are dropped; NULL-domain rows pass. With no
    index yet (born-streaming first batch), the batch's own stats
    gate it. Eagerly materialized."""
    spark = batch_df.sparkSession
    tokens_col = cfg["tokens_col"]
    check_stamp(DOMAINS, table, DOMAINS.stamp_of(cfg))
    idx = read_domains_index(spark, table, version=index_version)
    if idx is None:
        cols = [F.lit("").alias("domain"),
                F.lit(0).cast("long").alias("n_docs")]
        if tokens_col is not None:
            cols.append(F.lit(0).cast("long").alias("sum_tokens"))
        idx = spark.range(0).select(*cols)
    out = W.domain_gate_incremental(
        batch_df, idx, url_col=cfg["url_col"], tokens_col=tokens_col,
        min_docs=cfg["min_docs"], max_docs=cfg["max_docs"],
        min_sum_tokens=cfg["min_sum_tokens"],
    )
    return out.localCheckpoint(eager=True)


def _need_threshold(cfg: dict) -> None:
    if (cfg["min_docs"] is None and cfg["max_docs"] is None
            and cfg["min_sum_tokens"] is None):
        raise ValueError("domain_gate: pass at least one threshold")


#: ``domain_gate``: the domain-level aggregate gate (the
#: :func:`operators.web.domain_gate_incremental` composition): rows whose
#: domain's accumulated stats fail ``min_docs`` / ``max_docs`` /
#: ``min_sum_tokens`` (at least one is required) are dropped. ``url_col``
#: is required; ``tokens_col`` carries token sums. The ``_domains``
#: index holds per-batch (domain, n_docs[, sum_tokens]) partials —
#: counts are decomposable, so each commit is a tiny delta and reads
#: merge with one groupBy — stamped with the PSL snapshot and token
#: basis. ``max_docs`` across nights is an ever-seen ledger, not a
#: retroactive cap. FIRST in the chain: a dropped domain skips every
#: hash and shuffle downstream (the batch recipe's order).
DOMAINS = SideIndex(
    keyword="domain_gate", sub="_domains", label="after_domain",
    required=("url_col",), check=_need_threshold,
    defaults={"tokens_col": None, "min_docs": None, "max_docs": None,
              "min_sum_tokens": None},
    gate="domain_gate_batch", boot_tag="domainsindex-bootstrap",
    stamp=("__dpsl",),
    stamp_of=lambda c: (_domains_fingerprint(c["tokens_col"] is not None),),
    rows=lambda df, c: W.domain_stats(df, url_col=c["url_col"],
                                      tokens_col=c["tokens_col"]),
    basis="per-domain stats from a different PSL snapshot or token basis",
)
domains_index_path = DOMAINS.path


# --------------------------------------------------------------------------
# Incremental DSIR selection — the _gumbel top-k side output
# --------------------------------------------------------------------------
#
# The DSIR Gumbel key ``gk = logw + Gumbel(id, seed)`` is a pure
# per-row function, so the global top-k selection is decomposable:
# topk(seen ∪ batch) == topk(topk(seen) ∪ batch). The side table
# therefore stores PER-BATCH LOCAL TOP-K partials (≤k rows per commit —
# any global winner from a batch is in that batch's local top-k); the
# merge is one union → TakeOrderedAndProject paid on read. Per-batch
# cost is batch-scaled + k index rows — never a corpus re-score.

def _gumbel_fingerprint(
    weights, missing: float, seed: int, k: int
) -> int:
    """Stamp fingerprint: the FULL selection basis. Keys computed under
    different weights/missing/seed are incomparable doubles; a
    different k breaks the local-top-k ⊇ global-winners superset
    argument (a batch's (k+1)-th candidate can be a global top-k'
    member for k' > k) — none of these may ever merge silently."""
    basis = "\n".join(
        f"{t}\t{float(w)!r}" for t, w in sorted(weights.items())
    ) + f"\n#missing={float(missing)!r}#seed={int(seed)}#k={int(k)}"
    return zlib.crc32(basis.encode("utf-8"))


def _batch_gumbel_topk(df: DataFrame, c: dict) -> DataFrame:
    scored = SEL.dsir_log_weights(
        df.select(F.col(c["id_col"]), F.col(c["text_col"])),
        c["weights"], text_col=c["text_col"], id_col=c["id_col"],
        missing=c["missing"],
    )
    return SEL.dsir_topk_state(
        scored, c["k"], logw_col="logw", id_col=c["id_col"], seed=c["seed"]
    )


def _top_k(raw: DataFrame, k: int) -> DataFrame:
    return raw.orderBy(F.col("gk").desc(), F.col("id").asc()).limit(int(k))


def read_gumbel_index(
    spark: SparkSession, table: str, k: int, version: int | None = None
) -> DataFrame | None:
    """The CURRENT global DSIR selection ``(id, logw, gk)`` — union of
    the per-batch partials, one TakeOrderedAndProject — or None when
    absent."""
    raw = read_index(GUMBEL, spark, table, version)
    return None if raw is None else _top_k(raw, k)


def _squash_gumbel(spark: SparkSession, table: str, cfg: dict) -> int:
    """SEMANTIC compaction of the running selection: the per-batch
    partials are only ever read through one global top-k, so rows
    outside it are dead weight — rewrite the side table as exactly the
    current k winners (one transactional overwrite; txn high-water
    marks carry forward, so replayed batches stay replay-skipped and
    crash-replay version pins keep working inside the retention
    window). Without this the table grows k rows per batch forever —
    file-level compaction (M.compact) merges objects but cannot drop
    the losers. ``cfg["k"]`` must be the stamped selection k."""
    gtable = GUMBEL.path(table)
    v = M.current_version(gtable)
    if v == 0:
        return 0
    top = _top_k(M.read_table(spark, gtable, version=v), cfg["k"])
    return M.overwrite(
        top, gtable, stat_cols=GUMBEL.stamp, base_version=v,
        meta={"op_detail": "gumbelindex-squash", "k": int(cfg["k"])},
    )


#: ``dsir``: a running DSIR selection, a SIDE OUTPUT with no gate — the
#: batch's rows commit unfiltered, and the global Gumbel top-``k`` over
#: everything committed is read back with :func:`read_gumbel_index`.
#: ``weights`` (token → log-weight) and ``k`` are required. Exact under
#: batching because the Gumbel key is a pure per-row function
#: (:func:`operators.selection.dsir_topk_state`); compaction squashes
#: the partials to the current winners. Last in the chain, so it scores
#: the rows as committed.
GUMBEL = SideIndex(
    keyword="dsir", sub="_gumbel", required=("weights", "k"),
    defaults={"seed": 0, "missing": 0.0, "text_col": "text",
              "id_col": "doc_id"},
    boot_tag="gumbelindex-bootstrap", stamp=("__gfp",),
    stamp_of=lambda c: (_gumbel_fingerprint(c["weights"], c["missing"],
                                            c["seed"], c["k"]),),
    rows=_batch_gumbel_topk,
    basis="Gumbel keys from a different selection basis "
          "(weights/missing/seed/k)",
    compact=_squash_gumbel,
)
gumbel_index_path = GUMBEL.path


# --------------------------------------------------------------------------
# The stateless classifier gate and the chain
# --------------------------------------------------------------------------

def classifier_batch(
    batch_df: DataFrame, table: str, cfg: dict,
    index_version: int | None = None, data_version: int | None = None,
) -> DataFrame:
    """:func:`operators.selection.classifier_gate` as a chain stage: a
    lazy projection + filter over its (already materialized) input, so
    a replayed batch recomputes the identical verdicts."""
    return SEL.classifier_gate(
        batch_df, cfg["weights"], bias=cfg["bias"],
        threshold=cfg["threshold"], text_col=cfg["text_col"],
        id_col=cfg["id_col"], missing=cfg["missing"], score_col=None,
    )


#: ``classifier``: the model-quality gate (fastText-style linear scoring
#: in logit space). ``weights`` (a mapping or a (token, logw) DataFrame)
#: is required. STATELESS: no side table, replay pin or txn coupling.
#: Right after the domain gate: one codegen filter shields all
#: downstream content hashing (the batch recipe's order).
CLASSIFIER = SideIndex(
    keyword="classifier", label="after_classifier", required=("weights",),
    defaults={"bias": 0.0, "threshold": 0.5, "missing": 0.0,
              "text_col": "text", "id_col": "doc_id"},
    gate="classifier_batch",
)

#: Run order of the ingest stages. The three ``near_dedup`` methods
#: share one place; the first of them is the keyword's default method.
CHAIN = (DOMAINS, CLASSIFIER, KEYS, BANDED, CHUNKS, SEMCELLS, PARAS, GRAMS,
         GUMBEL)


# --------------------------------------------------------------------------
# Semantic-index drift telemetry + offline rebuild
# --------------------------------------------------------------------------

def _affinity_stats(df: DataFrame, vec_col: str, cents: list[list[float]],
                    dim: int) -> dict:
    """Batch affinity against the FROZEN centroids: count / mean / min
    of each row's best cosine-to-centroid. One bounded batch-scaled agg
    (a scalar collect — the per-batch telemetry read, not a corpus
    scan). This is the drift signal: frozen centroids keep cells
    COMPARABLE forever, but as the corpus distribution moves away from
    the training sample the best-cosine affinity decays, cells widen,
    and LSH recall inside them drops silently — the mean riding each
    cells-commit makes that decay visible in the manifest history
    instead of in a recall postmortem."""
    base = S._with_norm(df.select(vec_col), vec_col, "__n", dim, unroll=False)
    top = F.expr(S._cell_top_hof_sql(vec_col, cents))
    aff = base.select((top["d"] / F.col("__n")).alias("__a"))
    row = aff.agg(
        F.count("__a").alias("n"),
        F.avg("__a").alias("mean"),
        F.min("__a").alias("mn"),
    ).collect()[0]
    return {
        "n": int(row["n"] or 0),
        "mean_csim": None if row["mean"] is None else round(float(row["mean"]), 6),
        "min_csim": None if row["mn"] is None else round(float(row["mn"]), 6),
    }


def semantic_drift_history(table: str) -> list[dict]:
    """The per-commit drift telemetry recorded on the ``_semcells``
    manifest metas, oldest first: one entry per commit that carried
    stats — {version, batch_id?, n, mean_csim, min_csim}. The bootstrap
    commit's entry is the BASELINE (affinity of the very corpus the
    centroids were trained on); compare later batches against it and
    rebuild when the decay crosses the deployment's tolerance
    (:func:`rebuild_semantic_index`). Driver-side manifest walk, no
    Spark job."""
    stable = semcells_index_path(table)
    out: list[dict] = []
    for v in range(1, M.current_version(stable) + 1):
        try:
            m = M._load_manifest(stable, v)
        except FileNotFoundError:  # vacuumed
            continue
        meta = m.get("meta") or {}
        drift = meta.get("drift")
        if drift is None:
            continue
        entry = {"version": v, **drift}
        if "batch_id" in meta:
            entry["batch_id"] = meta["batch_id"]
        out.append(entry)
    return out


def semantic_index_stale(table: str) -> bool:
    """True when the cells table's stamp disagrees with the centroids
    table's — the crash window of :func:`rebuild_semantic_index` (new
    centroids committed, corpus not yet re-signed). A stale index MUST
    NOT serve candidate joins: batch keys signed under the new
    centroids would meet cells signed under the old ones. Re-run the
    rebuild (idempotent) to converge."""
    cstamp = _read_stamp(semcentroids_path(table), _SSTAMP)
    sstamp = _read_stamp(semcells_index_path(table), _SSTAMP)
    if cstamp is None or sstamp is None:
        return False
    return any(cstamp.get(c) != sstamp.get(c) for c in _SSTAMP)


def rebuild_semantic_index(
    spark: SparkSession,
    table: str,
    id_col: str,
    vec_col: str = "embedding",
    sample_n: int = 2048,
    seed: int | None = None,
    version: int | None = None,
) -> dict:
    """OFFLINE re-cluster of the semantic index: retrain
    spherical-k-means on a fresh sample of the CURRENT corpus snapshot,
    overwrite the frozen centroids under a BUMPED seed stamp, and
    re-sign every snapshot row's (cell, t, b) keys — the one deliberate
    O(corpus) pass, paid when :func:`semantic_drift_history` says cell
    tightness has decayed past tolerance. Run QUIESCED (no concurrent
    ingest writer), like ``compact``: batches committed between the
    pinned snapshot and the pointer flips would miss the re-sign.

    Crash-safe by stamp ordering: the new ``seed`` (default old+1) makes
    the new parameterization DISTINGUISHABLE from the old, centroids
    flip first, and a crash before the cells flip leaves the two stamps
    disagreeing — :func:`semantic_index_stale` detects it, and re-running
    this function converges (retrain is skipped when the centroids
    already carry the target stamp — the persisted set, trained on the
    ``covers_version`` snapshot recorded in its meta, is canonical; the
    cells re-sign then redoes only the missing flip). Dimension and
    structural parameters (n_centroids/n_planes/n_tables/dim) are kept
    from the frozen stamp — a rebuild re-fits the SAME index shape to
    the drifted distribution. Returns {version, seed, drift} where
    drift is the post-rebuild baseline affinity."""
    old = read_semantic_params(table)
    if old is None:
        raise ValueError(f"no semantic index at {table} to rebuild; use "
                         "ensure_index_bootstrap(SEMCELLS, ...) for the "
                         "first signing")
    stale = semantic_index_stale(table)
    if seed is None:
        # crash replay adopts the already-flipped centroid stamp (the
        # persisted set is canonical) instead of bumping past it
        new_seed = old["seed"] if stale else old["seed"] + 1
    else:
        new_seed = int(seed)
    if new_seed == old["seed"] and not stale:
        raise ValueError(
            f"rebuild seed {new_seed} equals the live stamp's; cells from "
            "the old and new centroid sets would be indistinguishable — "
            "bump the seed"
        )
    nc, np_, nt, dim = (old["n_centroids"], old["n_planes"],
                        old["n_tables"], old["dim"])
    ctable = semcentroids_path(table)
    stable = semcells_index_path(table)
    v = M.current_version(table) if version is None else version
    snap = M.read_table(spark, table, version=v).select(id_col, vec_col)

    cstamp = _read_stamp(ctable, _SSTAMP) or {}
    if cstamp.get("__seed") == new_seed:
        # crash replay: the target centroids already flipped — canonical;
        # re-pin the snapshot they were trained against for the re-sign
        cents = read_centroids(spark, table)
        cmeta = M._load_manifest(ctable, M.current_version(ctable)).get(
            "meta"
        ) or {}
        v = int(cmeta.get("covers_version", v))
        snap = M.read_table(spark, table, version=v).select(id_col, vec_col)
    else:
        cents = S._kmeans_centroids(snap, vec_col, nc, sample_n, seed=new_seed)
        cdf = _centroid_frame(spark, cents, nc, np_, nt, dim, new_seed)
        M.overwrite(cdf, ctable, stat_cols=_SSTAMP,
                    meta={"op_detail": "semcentroids-rebuild",
                          "covers_version": v})
    keys = _with_stamp(
        S.semantic_cell_keys(snap, dim, id_col, vec_col, cents, np_, nt,
                             new_seed),
        _SSTAMP, (nc, np_, nt, dim, new_seed),
    )
    drift = _affinity_stats(snap, vec_col, cents, dim)
    M.overwrite(keys, stable, stat_cols=_SSTAMP,
                meta={"op_detail": "semcells-rebuild", "covers_version": v,
                      "drift": drift})
    return {"version": v, "seed": new_seed, "drift": drift}
