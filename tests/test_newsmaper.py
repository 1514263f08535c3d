"""Reference-pipeline operator tests: ledger semantics (SURVEY.md §2.11)
that the e2e oracle can't express (raises, strict mode, idempotence)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from newsmaper_etl_spark import fixtures as FX
from newsmaper_etl_spark.operators.newsmaper import (
    DATE_DIM_DDL,
    append_new_rows,
    dedup_keep_first,
    generate_date_dim,
    parse_pubdate,
    reference_keyword_map,
    resolve_date_key,
    run_pipeline,
    tag_country,
    tag_country_expr,
    tokenize_text,
    explode_date_parts,
    flatten_references,
)


def _pipeline(spark, **kw):
    return run_pipeline(
        articles=FX.articles_df(spark),
        references=FX.references_df(spark),
        date_dim=FX.date_dim_df(spark),
        news_existing=FX.news_existing_df(spark),
        **kw,
    )


def test_l5_date_dim_miss_raises(spark):
    """L5: a missing (hours,day,month,year) row must raise, like
    Transform.py:42-46. The guard is a raise_error CASE folded into the
    plan (one job), so it fires at action time as a Spark runtime error."""
    with pytest.raises(Exception, match="date dimension miss"):
        run_pipeline(
            articles=FX.articles_df(spark),
            references=FX.references_df(spark),
            date_dim=FX.date_dim_df(spark, drop_last=True),
            news_existing=FX.news_existing_df(spark),
        ).collect()


def test_expected_rows_and_tags(spark):
    """Golden expectations, hand-derived from the fixtures (L1-L4, L7)."""
    rows = {r["title"]: r for r in _pipeline(spark).collect()}
    # articles 1 & 5 share a key with an existing news row → dropped
    assert "berlin summit opens" not in rows
    # L1: no keyword → default country 1
    assert rows["local sports roundup"]["id_country"] == 1
    # L3: spain(7) vs uk(44) tie → lowest id
    assert rows["spain and uk talks"]["id_country"] == 7
    # L4: ',' and ';' stripped so 'madrid' matches; 'roma.'/'Roma' never do
    assert rows["madrid,update;l'agenda"]["id_country"] == 7
    # in-batch duplicates BOTH pass the append filter (reference behavior)
    assert sum(1 for r in _pipeline(spark).collect() if r["title"] == "tokyo exchange note") == 2


def test_join_and_expr_taggers_agree(spark):
    """The shuffle-free expression tagger must be semantically identical
    to the join+rank tagger on the same inputs."""
    arts = tokenize_text(
        FX.articles_df(spark).withColumn("article_id", F.col("article_id"))
    )
    refs = FX.references_df(spark)
    joined = tag_country(arts, refs, row_key="article_id").select(
        "article_id", "id_country"
    )
    kw_map = reference_keyword_map(refs)
    exprd = tag_country_expr(arts, kw_map).select("article_id", "id_country")
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, exprd.collect()))


@pytest.mark.parametrize("strict", [False, True], ids=["oracle", "strict"])
def test_reference_keyword_map_matches_flattened_dictionary(spark, strict):
    """The driver-built keyword map equals the explode + groupBy form
    (``flatten_references``): a keyword claimed by two countries goes to
    the lowest id (L2), mixed case stays apart unless ``strict``
    lowercases it, and NULL or empty ``words`` arrays add nothing."""
    refs = spark.sql(
        "SELECT * FROM VALUES "
        "(5, 'b', array('europe', 'Roma', 'rome')), "
        "(2, 'a', array('europe', 'roma', 'berlin')), "
        "(9, 'c', CAST(NULL AS ARRAY<STRING>)), "
        "(11, 'd', CAST(array() AS ARRAY<STRING>)), "
        "(3, 'e', array('ROME', 'lisbon')) "
        "AS t(id, name, words)"
    )
    old = {
        r["kw"]: r["ref_id"]
        for r in flatten_references(refs, strict=strict).collect()
    }
    got = reference_keyword_map(refs, strict=strict)
    assert got == old
    assert got["europe"] == 2
    if strict:
        assert got["roma"] == 2 and got["rome"] == 3 and "Roma" not in got
    else:
        assert got["Roma"] == 5 and got["roma"] == 2 and got["ROME"] == 3


def test_append_idempotent(spark):
    """load ∘ load ≡ load: appending the pipeline output to the target and
    re-running the append filter yields nothing new (Load.py's contract)."""
    new_rows = _pipeline(spark)
    existing = FX.news_existing_df(spark).drop("id")
    combined = existing.unionByName(new_rows)
    again = append_new_rows(new_rows, combined)
    assert again.count() == 0


def test_dedup_keep_first_lowest_id_survives(spark):
    """L7: in the (9, 2023010216, 'evening brief') dup group, id 2 wins."""
    out = dedup_keep_first(FX.news_existing_df(spark))
    briefs = [r for r in out.collect() if r["title"] == "evening brief"]
    assert len(briefs) == 1 and briefs[0]["id"] == 2


def test_dedup_keep_first_salted_identical_on_skew(spark):
    """Skew hardening: 90% of rows share ONE key; the salted two-phase
    window must produce byte-identical survivors to the unsalted form."""
    rows = spark.range(0, 2000).selectExpr(
        "id",
        "CASE WHEN id % 10 < 9 THEN 1 ELSE CAST(id % 37 AS INT) END AS id_source",
        "CAST(2023010100 AS INT) AS id_date",
        "CASE WHEN id % 10 < 9 THEN 'hot title' ELSE concat('t', id % 37) END AS title",
    )
    plain = dedup_keep_first(rows)
    salted = dedup_keep_first(rows, salt=8)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # the hot key kept exactly its lowest id
    hot = [r for r in salted.collect() if r["title"] == "hot title"]
    assert len(hot) == 1 and hot[0]["id"] == 0


def test_strict_mode_normalizes_tz(spark):
    """L9: oracle mode keeps the printed wall clock; strict mode applies
    the offset (15:04:05 +0100 → 14:04:05 UTC)."""
    arts = FX.articles_df(spark).filter(F.col("article_id") == 1)
    oracle_ts = parse_pubdate(arts).select("pub_ts").collect()[0][0]
    strict_ts = parse_pubdate(arts, strict=True).select("pub_ts").collect()[0][0]
    assert oracle_ts.hour == 15
    assert strict_ts.hour == 14


def test_two_digit_year_parses_to_2023(spark):
    arts = FX.articles_df(spark).filter(F.col("article_id") == 3)
    ts = parse_pubdate(arts).select("pub_ts").collect()[0][0]
    assert (ts.year, ts.hour) == (2023, 9)


def test_generate_date_dim(spark):
    dim = generate_date_dim(spark, "2023-01-01 00:00:00", "2023-01-02 23:00:00")
    rows = dim.collect()
    assert len(rows) == 48
    first = min(rows, key=lambda r: r["id"])
    assert (first["id"], first["hours"], first["day"]) == (2023010100, 0, 1)
    # resolvable: every fixture hour must find a surrogate
    arts = explode_date_parts(parse_pubdate(FX.articles_df(spark)))
    full_dim = generate_date_dim(spark, "2023-01-01 00:00:00", "2023-01-07 23:00:00")
    resolved = resolve_date_key(arts, full_dim)
    assert resolved.count() == 7


def test_date_dim_ddl_matches_generated_schema(spark):
    """The CLI reads the written date dim with DATE_DIM_DDL instead of
    inferring its schema; the constant must name the generated columns
    and types, in order."""
    from pyspark.sql.types import StructType

    dim = generate_date_dim(spark, "2023-01-01 00:00:00", "2023-01-01 01:00:00")
    want = StructType.fromDDL(DATE_DIM_DDL)
    assert [(f.name, f.dataType) for f in want] == [
        (f.name, f.dataType) for f in dim.schema
    ]
