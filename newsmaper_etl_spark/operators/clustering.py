"""Distributed k-means clustering and cluster-balanced sampling over
embedding columns.

The clustering stage of an embedding-aware curation run: partition the
corpus into semantic cells (Lloyd's k-means), then sample/cap PER CELL
so the training mix is not dominated by the corpus's densest topic —
the "cluster-balanced selection" counterpart to the per-domain and
per-language gates, and the full-corpus sibling of the SAMPLED
spherical k-means that similarity.py trains driver-side for IVF/
SemDeDup cells (similarity.py::_kmeans_centroids fits on ≤sample_n
rows in numpy; THIS module iterates over the whole corpus as
DataFrame plans, which is what you need when the centroids themselves
are a deliverable).

Scale posture (100 TB):

- ``kmeans_assign`` is a pure projection for list-literal centers
  (k·dim literals inlined into ONE codegen stage — the IVF
  centroid-dot rule, good to k ≲ 256) and a broadcast-join +
  ``min_by`` aggregation for DataFrame centers (one shuffle on the
  row id; the centers table broadcasts at any realistic k·dim).
- ``kmeans_fit`` is Lloyd's with ONE groupBy per iteration: the
  assignment projection feeds a per-(cluster, dim) partial-aggregated
  mean — sums are decomposable, so the map side combines before the
  k·dim-row shuffle — and the driver collects exactly k·dim doubles
  per iteration (a bounded-cardinality collect, the sanctioned
  pattern). No iteration materializes the corpus.
- ``cluster_balanced_sample`` composes assignment with
  sampling.sample_per_group (one window on the cluster id). A hot
  cell is bounded by the cap itself.

Determinism: iteration math is floating-point, so cross-engine
bit-parity is NOT promised here the way the selection/sampling
operators promise it; the contracts instead plant WELL-SEPARATED
clusters (inter-center gaps orders of magnitude above float wobble)
and quantize emitted centroids, the ANN-contract discipline.

Reference scope: BryanHuet/newsmaper-etl has no vector surface
(dags/*.py are ingest + relational hygiene); this module is part of
the mandated beyond-the-reference LLM-pipeline surface (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from newsmaper_etl_spark.localrel import literal_df

from newsmaper_etl_spark.operators.sampling import sample_per_group

#: Literal-centers cutover: past this, the assignment expression's
#: k·dim literals stop fitting comfortably in one codegen stage —
#: pass a centers DataFrame instead (broadcast-join path).
MAX_INLINE_CENTERS = 256


def _as_double(vec_col: str) -> Column:
    """Element-wise cast to double — float32 embeddings must be widened
    BEFORE arithmetic so both engines (and both assign paths) run the
    identical double-precision ops."""
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _qcol(name: str) -> str:
    """Backtick-quote a column name for SQL-string assembly."""
    return "`" + name.replace("`", "``") + "`"


def _argmin_sql(vec_col: str, centers: list[list[float]]) -> str:
    """The literal-centers argmin as ONE SQL string (r16, the r15
    'single-parse expression assembly' technique — f59449b:OPTIMIZATION_r15.md
    Fix 5): the Column-algebra form built k·dim ``F.lit`` py4j round
    trips PER INVOCATION (~0.2 s per assignment build at k=3, dim=64 —
    measured in f59449b:OPTIMIZATION_r16.md; kmeans_fit pays it once per
    iteration because the centers change), where one parsed string is
    ~6 ms. The tree is term-for-term the Column-algebra form it
    replaces (zip_with-fold dist² + struct-least + NULL guard):
    identical zip_with/aggregate fold,
    identical double literals (``repr`` round-trips exactly; NaN/Inf
    via the localrel renderer), INT cluster literals, and the same
    least-of-(d, c)-structs tie-break with the computed-distance NULL
    guard."""
    from pyspark.sql import types as T

    from newsmaper_etl_spark.localrel import _sql_lit

    vec = f"transform({_qcol(vec_col)}, x -> CAST(x AS DOUBLE))"
    dt = T.DoubleType()
    structs = []
    for j, c in enumerate(centers):
        lits = ", ".join(_sql_lit(float(x), dt) for x in c)
        d = (
            f"aggregate(zip_with({vec}, array({lits}), "
            "(a, b) -> (a - b) * (a - b)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        structs.append(f"named_struct('d', {d}, 'c', {j})")
    arg = structs[0] if len(structs) == 1 else f"least({', '.join(structs)})"
    return (
        f"CAST(CASE WHEN ({arg}).d IS NULL THEN CAST(NULL AS INT) "
        f"ELSE ({arg}).c END AS INT)"
    )


def kmeans_assign(
    df: DataFrame,
    centers: list[list[float]] | DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "cluster",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every row to its nearest center (squared L2, ties → the
    lowest cluster id).

    List-literal centers inline into ONE shuffle-free projection: the
    argmin is ``least()`` over (distance, cluster) structs, whose
    lexicographic compare IS the tie-break. DataFrame centers
    (``(cluster, center)`` with an array<double> center) take a
    broadcast nested-loop over k rows + one ``min_by`` groupBy on the
    row id — the k ≳ 256 path.
    """
    if isinstance(centers, DataFrame):
        cent = centers.select(
            F.col("cluster").cast("int").alias("__c"),
            F.col("center").alias("__cv"),
        )
        vecd = _as_double(vec_col)
        pairs = (
            df.select(F.col(id_col).alias("__id"), vecd.alias("__vd"))
            .crossJoin(F.broadcast(cent))
        )
        d2 = F.aggregate(
            F.zip_with(F.col("__vd"), F.col("__cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # groupBy on the ROW ID, never the full row: the full-row form
        # made the shuffle key carry the embedding (multi-KB keys at
        # corpus scale) and collapsed duplicate rows (VERDICT r14
        # what's-wrong #3). id_col must be a unique non-NULL row key —
        # the same contract every incremental index in this repo pins.
        best = (
            pairs.withColumn("__d2", d2)
            .groupBy("__id")
            .agg(F.min(F.struct(F.col("__d2"), F.col("__c"))).alias("__best"))
            .select(
                F.col("__id"),
                # guard on the COMPUTED distance, not the input column:
                # a wholly-NULL vector, a NULL element, or a dim
                # mismatch vs the centers all yield NULL __d2, and
                # struct-min ranks the NULL field smallest — such rows
                # must stay unassigned (ADVICE r14 #1)
                F.when(F.col("__best.__d2").isNull(), F.lit(None).cast("int"))
                .otherwise(F.col("__best.__c"))
                .alias(out_col),
            )
        )
        out = df.drop(out_col).join(
            best, F.col(id_col) == F.col("__id"), "left"
        )
        return out.drop("__id")
    if len(centers) > MAX_INLINE_CENTERS:
        raise ValueError(
            f"kmeans_assign: {len(centers)} literal centers exceed the "
            f"{MAX_INLINE_CENTERS}-center inline cutover; pass a centers "
            "DataFrame (broadcast-join path)"
        )
    if len(centers) < 1:
        raise ValueError("kmeans_assign: need at least one center")
    # Guard on the COMPUTED distance: a wholly-NULL vector, a NULL
    # element, or a dim mismatch vs the centers all make the distance
    # NULL, and least() over structs ranks the NULL field SMALLEST —
    # any such row would silently claim cluster 0. Keep it unassigned
    # instead (ADVICE r14 #1; callers filter upstream, the fit loop's
    # posexplode drops NULL elements). Assembled as ONE parsed SQL
    # string — _argmin_sql has the measured why.
    return df.withColumn(out_col, F.expr(_argmin_sql(vec_col, centers)))


def kmeans_fit(
    df: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 5,
    init_ids: list[int] | None = None,
) -> list[list[float]]:
    """Lloyd's k-means over the full corpus; returns the k centers.

    Init is deterministic: the rows whose ids are ``init_ids`` (or the
    k smallest ids — fine when upstream shuffle_rank/mix_bucket already
    decorrelated ids from content; pass explicit ids otherwise). Each
    iteration = one assignment projection + one groupBy computing the
    per-cluster per-dim mean with map-side partial aggregation, then a
    k·dim-value driver collect. Empty clusters keep their previous
    center (the standard Lloyd's degeneracy rule, deterministic).
    """
    if k < 1:
        raise ValueError("kmeans_fit: k must be >= 1")
    base = df.select(F.col(id_col), _as_double(vec_col).alias("__vd"))
    if init_ids is not None:
        if len(init_ids) != k:
            raise ValueError(f"kmeans_fit: {len(init_ids)} init_ids for k={k}")
        seed_rows = base.filter(F.col(id_col).isin(list(init_ids)))
    else:
        seed_rows = base.orderBy(F.col(id_col).asc()).limit(k)
    seeds = seed_rows.select(id_col, "__vd").collect()
    if len(seeds) < k:
        raise ValueError(
            f"kmeans_fit: only {len(seeds)} init rows found for k={k}"
        )
    centers = [list(r["__vd"]) for r in sorted(seeds, key=lambda r: r[0])]
    dim = len(centers[0])
    for _ in range(int(iters)):
        # Past the inline cutover the literal projection would abort
        # (ADVICE r14 #2): hand the iteration the broadcast-join form
        # instead — same argmin/tie-break, one id-keyed shuffle.
        if k > MAX_INLINE_CENTERS:
            cdf = kmeans_centers_df(df.sparkSession, centers)
            assigned = kmeans_assign(
                base, cdf, vec_col="__vd", out_col="__c", id_col=id_col
            )
        else:
            assigned = kmeans_assign(
                base, centers, vec_col="__vd", out_col="__c", id_col=id_col
            )
        # posexplode → groupBy(cluster, pos) avg: sums/counts combine
        # map-side, the shuffle carries ≤ k·dim groups.
        stats = (
            assigned.select(
                F.col("__c"), F.posexplode(F.col("__vd")).alias("__p", "__x")
            )
            .groupBy("__c", "__p")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        new = [list(c) for c in centers]  # empty clusters keep old center
        for r in stats:
            new[r["__c"]][r["__p"]] = r["__m"]
        centers = new
    assert all(len(c) == dim for c in centers)
    return centers


def kmeans_centers_df(spark, centers: list[list[float]]) -> DataFrame:
    """The (cluster, center) DataFrame form of a fitted center list —
    the input shape of kmeans_assign's broadcast-join path and the
    natural thing to persist next to a corpus snapshot."""
    rows = [(j, [float(x) for x in c]) for j, c in enumerate(centers)]
    return literal_df(spark, rows, "cluster int, center array<double>")


def cluster_balanced_sample(
    df: DataFrame,
    centers: list[list[float]] | DataFrame,
    per_cluster: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Cap every semantic cell at ``per_cluster`` rows: assignment +
    the deterministic per-group sampler (one window on the cluster id).
    The SSL-style "don't let the densest topic eat the budget" gate."""
    assigned = kmeans_assign(
        df, centers, vec_col=vec_col, out_col=cluster_col, id_col=id_col
    )
    return sample_per_group(
        assigned, group_col=cluster_col, k=per_cluster, id_col=id_col
    )
