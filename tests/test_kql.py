"""KQL frontend: translation correctness, the reference's committed
query shapes, explicit-subset errors, and plan quality through the
nested-subquery translation."""

from __future__ import annotations

import pytest

from api_to_parquet_spark.lake import load
from api_to_parquet_spark.queries.kql import kql, kql_to_sql


def test_reference_committed_shapes(spark, sf_smoke):
    """The two KQL queries committed in the reference repo
    (tests/test.http:49,62) run verbatim once the lake view is
    registered under the table name they target."""
    ev = load(spark, sf_smoke, "events")
    ev.createOrReplaceTempView("OmyaData")
    ev.createOrReplaceTempView("TelemetryData")
    assert kql(spark, "OmyaData | take 100").count() == 100
    got = kql(spark, "TelemetryData | count").collect()[0]
    assert got["Count"] == ev.count()


def test_where_project_extend_distinct(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        'events | where event_type == "view" and value > 10'
        " | extend v2 = value * 2 | project event_id, v2",
    )
    assert df.columns == ["event_id", "v2"]
    rows = df.collect()
    assert len(rows) > 0
    langs = kql(spark, "events | distinct event_type").collect()
    assert {r["event_type"] for r in langs} == {
        r["event_type"]
        for r in spark.table("events").select("event_type").distinct().collect()
    }


def test_string_ops_translate(spark, sf_smoke):
    load(spark, sf_smoke, "documents").createOrReplaceTempView("documents")
    n_contains = kql(
        spark, 'documents | where text contains "the" | count'
    ).collect()[0]["Count"]
    n_like = spark.sql(
        "SELECT COUNT(*) AS n FROM documents WHERE text LIKE '%the%'"
    ).collect()[0]["n"]
    assert n_contains == n_like


def test_join_kinds_translate():
    for kind, frag in [
        ("inner", "JOIN ("),
        ("leftouter", "LEFT JOIN ("),
        ("leftsemi", "LEFT SEMI JOIN ("),
        ("leftanti", "LEFT ANTI JOIN ("),
    ]:
        sql = kql_to_sql(f"T | join kind={kind} (U | where a == 1) on k")
        assert frag in sql and "USING (k)" in sql, sql
    with pytest.raises(ValueError, match="unsupported join kind"):
        kql_to_sql("T | join kind=cross (U) on k")


def test_mv_expand_translates_to_lateral_explode():
    sql = kql_to_sql("T | mv-expand arr")
    assert "LATERAL VIEW explode(arr)" in sql
    assert "EXCEPT (arr, _mv)" in sql


def test_unsupported_operator_is_explicit():
    # plain `consume` is supported (round-8: empty result); its
    # decodeblocks stats option stays a loud error
    with pytest.raises(ValueError, match="consume options"):
        kql_to_sql("T | consume decodeblocks=true")
    with pytest.raises(ValueError, match="unsupported KQL operator"):
        kql_to_sql("T | egest")
    with pytest.raises(ValueError, match="unsupported KQL aggregate"):
        kql_to_sql("T | summarize covariance(x, y)")
    # fork is supported WITH a session; without one it must still be a
    # loud error, not a silent mistranslation
    with pytest.raises(ValueError, match="fork needs a SparkSession"):
        kql_to_sql("T | fork (where a == 1) (where a == 2)")


def test_filter_pushdown_survives_translation(spark, sf_smoke):
    """The where stage must reach the parquet scan as a pushed filter
    even though the translator nests each pipe stage as a subquery —
    i.e. Catalyst flattens the translation artifact away."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        'events | where event_type == "view" | project event_id | take 5',
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "event_type" in plan


def test_synapse_openrowset_verbatim(spark, tmp_path):
    """The README's committed Synapse query (README.md:94-99) runs
    verbatim — blob URL remapped onto the local lake root — and the
    wildcard path scans only the named hour partition."""
    import json

    from api_to_parquet_spark import ingest, lake
    from api_to_parquet_spark.queries.kql import synapse_sql

    root = str(tmp_path / "lake")
    for hour, n in [(19, 7), (20, 3)]:
        env = {
            "content": [
                {"PointId": "p1", "Timestamp": i, "Value": float(i)}
                for i in range(n)
            ],
            "id": "b",
            "source": "factory-1",
            "timeGenerated": 1,
            "file": f"factory-1/2023/10/26/{hour}/a.parquet",
        }
        raw = spark.createDataFrame([(json.dumps(env),)], ["value"])
        envelopes = ingest.parse_envelopes(raw)
        points, _ = ingest.ingest_batch(envelopes)
        lake.write_batch_files(points, ingest.batch_keys(envelopes), root)

    df = synapse_sql(
        spark,
        """SELECT TOP 100 *
FROM
    OPENROWSET(
        BULK 'https://ACCOUNTNAME.blob.core.windows.net/CONTAINERNAME/factory-1/2023/10/26/19/*.parquet',
        FORMAT='PARQUET'
    ) AS data""",
        root,
    )
    rows = df.collect()
    assert len(rows) == 7  # hour 20's 3 rows pruned by the wildcard path
    assert {r["PointId"] for r in rows} == {"p1"}
    # TOP actually limits
    df2 = synapse_sql(
        spark,
        "SELECT TOP 2 * FROM OPENROWSET(BULK "
        "'https://a.blob.core.windows.net/c/factory-1/2023/10/26/19/*.parquet'"
        ", FORMAT='PARQUET') AS data",
        root,
    )
    assert df2.count() == 2


def test_project_away_and_percentile(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(spark, "events | project-away props, value | take 3")
    assert df.columns == ["event_id", "ts", "user_id", "event_type"]
    df2 = kql(
        spark,
        "events | summarize p95=percentile(value, 95), n=count()"
        " by event_type",
    )
    rows = {r["event_type"]: r for r in df2.collect()}
    assert len(rows) == 5 and all(r["p95"] is not None for r in rows.values())


def test_top_plans_take_ordered(spark, sf_smoke):
    """`top N by c` through the translator must plan
    TakeOrderedAndProject (per-partition heaps), not a global sort."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(spark, "events | top 10 by value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:400]


def test_let_union_rename_keep(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "let t = 50;"
        " events | where value > t"
        " | project-rename uid=user_id"
        " | project-keep uid, event_type"
        ' | union (events | where event_type == "purchase"'
        "          | project-rename uid=user_id | project-keep uid, event_type)"
        " | count",
    )
    assert df.columns == ["Count"]
    assert df.collect()[0]["Count"] > 0


def test_parse_extracts_typed_captures(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        'events | parse props with "{\\"k\\": " k:long "}"'
        " | project event_id, k | take 5",
    )
    rows = df.collect()
    assert all(isinstance(r["k"], int) for r in rows)


def test_new_predicates_translate():
    sql = kql_to_sql('events | where event_type endswith "w"')
    assert "endswith(lower(event_type), lower('w'))" in sql
    sql = kql_to_sql('events | where event_type endswith_cs "w"')
    assert "endswith(event_type, 'w')" in sql
    sql = kql_to_sql('events | where event_type has "view"')
    assert "RLIKE" in sql and "(?i)" in sql and "\\\\Q" in sql
    sql = kql_to_sql('events | where event_type has_cs "view"')
    assert "RLIKE" in sql and "(?i)" not in sql
    sql = kql_to_sql("events | where value between (10 .. 20)")
    assert "BETWEEN 10 AND 20" in sql
    sql = kql_to_sql('events | where event_type !in ("a", "b")')
    assert "NOT IN" in sql
    sql = kql_to_sql("events | where isnotempty(event_type)")
    assert "IS NOT NULL" in sql


def test_has_regex_metacharacters_safe(spark, sf_smoke):
    """`has "c++"` must not be a regex compile error: the term is
    \\Q-quoted inside the word-boundary pattern."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    n = kql(spark, 'events | where props has "c++" | count').collect()[0]
    assert n["Count"] == 0  # no such term, but the query RUNS


def test_case_insensitive_string_predicates(spark, sf_smoke):
    """ADX contains/has are case-insensitive; the _cs variants are not."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    n_ci = kql(spark, 'events | where event_type contains "VIEW" | count')
    n_cs = kql(spark, 'events | where event_type contains_cs "VIEW" | count')
    n_exact = kql(spark, 'events | where event_type == "view" | count')
    assert n_ci.collect()[0]["Count"] >= n_exact.collect()[0]["Count"] > 0
    assert n_cs.collect()[0]["Count"] == 0


def test_let_substitution_skips_string_literals(spark, sf_smoke):
    """A let named like a string literal's content must not rewrite the
    literal: `let t = 5; … == "t"` keeps comparing against "t"."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    sql = kql_to_sql('let t = 5; events | where event_type == "t" and value > t')
    # round-8: bare numeric lets substitute UNPARENTHESIZED (so
    # integer-only grammar slots like `take n` still parse)
    assert "= 't'" in sql and "value > 5" in sql


def test_let_references_earlier_let():
    sql = kql_to_sql("let a = 10; let b = a + 5; T | where x > b")
    assert "x > ((10) + 5)" in sql


def test_tabular_let_and_materialize():
    sql = kql_to_sql(
        "let base = materialize(T | where x > 1); base | count"
    )
    assert "WHERE x > 1" in sql and "_let_base" in sql
    # tabular let chaining: a later let may extend an earlier one
    sql = kql_to_sql(
        "let a = T | where x > 1; let b = a | where y < 2; b | count"
    )
    assert "WHERE x > 1" in sql and "y < 2" in sql


def test_union_aligns_columns_by_name(spark, sf_smoke):
    """ADX union aligns by NAME and null-fills; two pipes with the same
    columns in different order must not silently misalign."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | project event_id, value"
        " | union (events | project value, event_id) | count",
    )
    n = spark.table("events").count()
    assert df.collect()[0]["Count"] == 2 * n
    # value stays a value (misalignment would put event_ids in it)
    df2 = kql(
        spark,
        "events | project event_id, value"
        " | union (events | project value, event_id)"
        " | summarize m=max(value)",
    )
    vmax = spark.sql("SELECT max(value) AS m FROM events").collect()[0]["m"]
    assert df2.collect()[0]["m"] == vmax


def test_union_null_fills_missing_columns(spark, sf_smoke):
    """Default kind=outer semantics: a column present on one side only
    comes through null-filled, not as an analysis error."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | project event_id, value"
        " | union (events | project event_id, user_id)"
        " | where user_id >= 0 | count",
    )
    n = spark.table("events").count()
    assert df.collect()[0]["Count"] == n


def test_arg_max_star_expands_from_schema(spark, sf_smoke):
    """arg_max(x, *) carries every other column (schema-discovered);
    without a session it still fails loudly."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | summarize arg_max(event_id, *) by event_type",
    )
    assert set(df.columns) == {
        "event_type", "event_id", "ts", "user_id", "value", "props"
    }
    with pytest.raises(ValueError, match="SparkSession"):
        kql_to_sql("T | summarize arg_max(ts, *) by g")


def test_ago_now_translate():
    sql = kql_to_sql("T | where ts > ago(2h)")
    assert "current_timestamp() - INTERVAL '7200' SECOND" in sql
    sql = kql_to_sql("T | extend t=now()")
    assert "current_timestamp()" in sql


def test_top_nested_deep_levels_translate():
    # arbitrary depth since round 4: each level adds one grouped agg +
    # one parent-key window
    sql = kql_to_sql(
        "T | top-nested 1 of a by count(),"
        " top-nested 1 of b by count(), top-nested 1 of c by count()"
    )
    assert sql.count("row_number()") == 3
    with pytest.raises(ValueError, match="duplicate group column"):
        kql_to_sql(
            "T | top-nested 1 of a by count(),"
            " top-nested 1 of a by count()"
        )


def test_mv_apply_where_only_filters_array(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        'events | project event_id, ps=split(props, " ")'
        " | mv-apply p = ps on (where strlen(p) >= 4)"
        " | extend n=array_size(ps) | project event_id, n | take 5",
    )
    assert df.columns == ["event_id", "n"]
    assert all(r["n"] is not None for r in df.collect())


def test_conditional_aggregates_translate():
    sql = kql_to_sql("T | summarize b=countif(v > 5), s=sumif(v, v > 5) by g")
    assert "COUNT_IF(v > 5)" in sql
    assert "SUM(CASE WHEN v > 5 THEN v END)" in sql
    sql = kql_to_sql('T | summarize d=dcountif(u, t == "x")')
    assert "COUNT(DISTINCT CASE WHEN t = 'x' THEN u END)" in sql


def test_case_substring_scalar_translate():
    sql = kql_to_sql('T | extend b=case(v < 1, "a", v < 2, "b", "c")')
    assert (
        "(CASE WHEN v < 1 THEN 'a' WHEN v < 2 THEN 'b' ELSE 'c' END)" in sql
    )
    # nested case + function args with commas survive balanced parsing
    sql = kql_to_sql(
        'T | extend b=case(strlen(strcat(x, y)) > 3, "long", "short")'
    )
    # strlen is LONG in ADX (round-12: the INT32 widening sweep);
    # round-13: strcat args render via the shared typeof-gated
    # tostring rule, so the emission carries the CASE wrapper
    assert "CASE WHEN CAST(length(concat_ws(''," in sql
    assert "AS BIGINT) > 3" in sql and "ELSE string(y) END)" in sql
    # ADX substring is 0-based; SQL is 1-based
    sql = kql_to_sql("T | extend h=substring(s, 0, 2)")
    assert "substring(s, (0) + 1, 2)" in sql
    sql = kql_to_sql('T | extend d=format_datetime(ts, "yyyy-MM-dd")')
    assert "date_format(ts, 'yyyy-MM-dd')" in sql
    with pytest.raises(ValueError, match="pred/value pairs"):
        kql_to_sql('T | extend b=case(v < 1, "a")')


def test_serialize_window_translate():
    sql = kql_to_sql(
        "T | sort by ts asc | serialize rn=row_number(), p=prev(v), c=row_cumsum(v)"
    )
    assert "ROW_NUMBER() OVER (ORDER BY ts asc)" in sql
    assert "LAG(v) OVER (ORDER BY ts asc)" in sql
    assert "SUM(v) OVER (ORDER BY ts asc ROWS BETWEEN UNBOUNDED" in sql
    with pytest.raises(ValueError, match="preceding sort"):
        kql_to_sql("T | serialize rn=row_number()")
    # bare serialize is a legal no-op marker
    sql = kql_to_sql("T | sort by ts asc | serialize | take 5")
    assert "LIMIT 5" in sql


def test_make_series_dense_axis_and_defaults(spark, sf_smoke):
    """make-series emits one row per group with a dense [from, to)
    axis: every group's arrays span all bins, and bins with no rows
    carry the default."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    rows = kql(
        spark,
        "events | make-series n=count() default=0.0 on ts"
        " from datetime(2024-01-01) to datetime(2024-01-03) step 6h"
        " by user_id",
    ).collect()
    assert rows, "expected at least one group"
    for r in rows:
        assert len(r["ts"]) == 8 and len(r["n"]) == 8
        assert r["ts"][0].isoformat().startswith("2024-01-01T00")
    # totals across bins must equal the plain windowed count
    from pyspark.sql import functions as F

    expect = (
        spark.table("events")
        .where("ts >= '2024-01-01' AND ts < '2024-01-03'")
        .groupBy("user_id")
        .count()
        .collect()
    )
    got = {r["user_id"]: sum(r["n"]) for r in rows}
    assert got == {r["user_id"]: float(r["count"]) for r in expect}


def test_make_series_auto_bounds(spark, sf_smoke):
    """make-series with from/to omitted derives the axis from the
    data (round-9): from = min(ts) snapped to the step, to = max(ts)
    inclusive — identical output to the explicit form with those
    bounds. A malformed clause (missing step) stays loud."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    auto = {
        r["user_id"]: (list(r["n"]), [str(x) for x in r["ts"]])
        for r in kql(
            spark,
            "events | make-series n = count() default=0.0 on ts"
            " step 1d by user_id",
        ).collect()
    }
    mn, mx = spark.sql(
        "SELECT date_trunc('DAY', min(ts)), max(ts) FROM events"
    ).collect()[0]
    import datetime as _dt

    to = mx + _dt.timedelta(microseconds=1)
    exp = {
        r["user_id"]: (list(r["n"]), [str(x) for x in r["ts"]])
        for r in kql(
            spark,
            "events | make-series n = count() default=0.0 on ts"
            f" from datetime({mn.strftime('%Y-%m-%d %H:%M:%S')})"
            f" to datetime({to.strftime('%Y-%m-%d %H:%M:%S.%f')})"
            " step 1d by user_id",
        ).collect()
    }
    assert auto == exp
    with pytest.raises(ValueError, match="make-series"):
        kql_to_sql("events | make-series n=count() on ts")


def test_mv_expand_multi_column_zips(spark, sf_smoke):
    """Multi-column mv-expand zips element-wise with null padding for
    shorter arrays (ADX semantics)."""
    spark.sql(
        "SELECT array(1, 2, 3) AS a, array('x', 'y') AS b"
    ).createOrReplaceTempView("t")
    rows = kql(spark, "t | mv-expand a, b").collect()
    assert [(r["a"], r["b"]) for r in rows] == [
        (1, "x"), (2, "y"), (3, None)
    ]


def test_make_list_make_set_sorted(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    r = kql(
        spark,
        "events | summarize lst=make_list(event_type),"
        " st=make_set(event_type)",
    ).collect()[0]
    assert r["lst"] == sorted(r["lst"])
    assert r["st"] == sorted(set(r["lst"]))


def test_range_generator(spark):
    assert [r["x"] for r in kql(spark, "range x from 1 to 10 step 3").collect()] == [
        1, 4, 7, 10
    ]
    days = kql(
        spark,
        "range d from datetime(2024-01-01) to datetime(2024-01-05) step 1d",
    ).collect()
    assert len(days) == 5  # ADX range is stop-INCLUSIVE


def test_top_hitters_naming_and_order(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(spark, "events | top-hitters 2 of event_type")
    assert df.columns == ["event_type", "approximate_count_event_type"]
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0][1] >= rows[1][1]


def test_pivot_discovers_sorted_columns(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | project user_id, event_type, value"
        " | evaluate pivot(event_type, sum(value))",
    )
    types = sorted(
        r["event_type"]
        for r in spark.table("events").select("event_type").distinct().collect()
    )
    assert df.columns == ["user_id"] + types


def test_getschema_contract(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    rows = kql(spark, "events | getschema").collect()
    assert [r["ColumnName"] for r in rows] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]
    assert rows[1]["ColumnType"] == "datetime"


def test_split_literal_delimiter(spark):
    """ADX split() is literal: splitting on '.' must not behave as the
    regex any-char."""
    spark.sql("SELECT 'a.b.c' AS s").createOrReplaceTempView("t")
    r = kql(
        spark,
        "t | extend parts = split(s, '.'), head = split(s, '.', 0)",
    ).collect()[0]
    assert r["parts"] == ["a", "b", "c"] and r["head"] == "a"
    # out-of-range index is NULL, not an ANSI error
    assert kql(spark, "t | extend x = split(s, '.', 9)").collect()[0]["x"] is None


def test_strcat_null_tolerant_and_countof(spark):
    spark.sql(
        "SELECT CAST(NULL AS STRING) AS a, 'bb' AS b"
    ).createOrReplaceTempView("t")
    r = kql(
        spark,
        "t | extend s = strcat(a, '-', b), c = countof(b, 'b'),"
        " rs = replace_string(b, 'b', 'x')",
    ).collect()[0]
    assert r["s"] == "-bb"  # ADX: null args stringify to empty
    assert r["c"] == 2 and r["rs"] == "xx"


def test_series_scalar_functions(spark):
    """series_* reductions and element-wise arithmetic over dynamic
    arrays — per-row higher-order functions, no shuffle."""
    spark.sql(
        "SELECT array(1.0, NULL, 3.0) AS s, array(1.0, 1.0, 1.0) AS o"
    ).createOrReplaceTempView("t")
    r = kql(
        spark,
        "t | extend f = series_fill_const(s, 0.0)"
        " | extend tot = series_sum(f), m = series_avg(f),"
        " hi = series_max(f), d = series_subtract(f, o),"
        " x2 = series_multiply(f, 2)",
    ).collect()[0]
    assert r["f"] == [1.0, 0.0, 3.0]
    assert r["tot"] == 4.0 and r["m"] == pytest.approx(4.0 / 3) and r["hi"] == 3.0
    assert r["d"] == [0.0, -1.0, 2.0] and r["x2"] == [2.0, 0.0, 6.0]


def test_parse_where_filters_nonmatching(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        'events | parse-where event_type with "s" mid:string "nup"',
    )
    rows = df.collect()
    assert rows and all(r["event_type"] == "signup" for r in rows)
    # plain parse keeps everything
    n_all = kql(
        spark, 'events | parse event_type with "s" mid:string "nup"'
    ).count()
    assert n_all == spark.table("events").count()


def test_sample_deterministic_and_bounded(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    a = kql(spark, "events | sample 9").collect()
    b = kql(spark, "events | sample 9").collect()
    assert len(a) == 9 and a == b
    ds = kql(spark, "events | sample-distinct 2 of event_type").collect()
    assert len(ds) == 2 and len({r[0] for r in ds}) == 2


def test_datetime_math_boundary_semantics(spark):
    """datetime_diff counts unit BOUNDARIES crossed (ADX contract):
    23:59 -> 00:01 is 1 day apart even though 2 minutes elapsed."""
    spark.sql(
        "SELECT TIMESTAMP '2024-01-02 00:01:00' AS a,"
        " TIMESTAMP '2024-01-01 23:59:00' AS b"
    ).createOrReplaceTempView("t")
    r = kql(
        spark,
        "t | extend dd = datetime_diff('day', a, b),"
        " hh = datetime_diff('hour', a, b),"
        " plus = datetime_add('day', 1, b),"
        " ba = bin_at(a, 1d, datetime(2024-01-01))",
    ).collect()[0]
    assert r["dd"] == 1 and r["hh"] == 1
    assert r["plus"].isoformat().startswith("2024-01-02T23:59")
    assert r["ba"].isoformat().startswith("2024-01-02T00:00")


def test_indexof_array_fns_zero_based(spark):
    spark.sql("SELECT 'hello' AS s").createOrReplaceTempView("t")
    r = kql(
        spark,
        't | extend i = indexof(s, "ll"), miss = indexof(s, "zz"),'
        ' arr = pack_array(s, "x"), ai = array_index_of(pack_array(s), s),'
        " n = array_length(pack_array(s, s, s))",
    ).collect()[0]
    assert r["i"] == 2 and r["miss"] == -1
    assert r["ai"] == 0 and r["n"] == 3


def test_percentiles_expand_with_adx_naming():
    sql = kql_to_sql("T | summarize percentiles(value, 25, 99.9) by g")
    assert "AS percentile_value_25" in sql
    assert "AS percentile_value_99_9" in sql
    assert sql.count("percentile_approx") == 2


def test_join_qualified_keys_keep_both_columns(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | project event_id, value"
        " | join kind=inner (events | project eid2 = event_id)"
        " on $left.event_id == $right.eid2 | take 5",
    )
    assert "event_id" in df.columns and "eid2" in df.columns
    rows = df.collect()
    assert rows and all(r["event_id"] == r["eid2"] for r in rows)
    with pytest.raises(ValueError, match="join needs"):
        kql_to_sql("T | join (U) on $left.a == b.c")


def test_join_innerunique_dedupes_left_on_key(spark):
    """ADX's DEFAULT join kind dedupes the left side on the key before
    the inner join: a dup-key left yields ONE output row per matched
    key, and with a session the kept row is deterministic (first by
    every orderable column)."""
    spark.sql(
        "SELECT * FROM (VALUES (1, 'b'), (1, 'a'), (2, 'c'))"
        " AS t(k, v)"
    ).createOrReplaceTempView("iu_left")
    spark.sql(
        "SELECT * FROM (VALUES (1, 10), (1, 11), (3, 30)) AS t(k, w)"
    ).createOrReplaceTempView("iu_right")
    rows = kql(
        spark,
        "iu_left | join (iu_right | project k, w) on k"
        " | sort by k asc, w asc",
    ).collect()
    # left deduped to (1,'a') [first by (k, v)], then inner-joined:
    # right dup keys are NOT deduped (ADX contract)
    assert [(r["k"], r["v"], r["w"]) for r in rows] == [
        (1, "a", 10),
        (1, "a", 11),
    ]
    # explicit kind=inner keeps all left duplicates
    n_inner = kql(
        spark, "iu_left | join kind=inner (iu_right) on k | count"
    ).collect()[0]["Count"]
    assert n_inner == 4


def test_join_right_semi_anti(spark):
    """rightsemi/rightanti return RIGHT-pipe rows (and columns) by
    left-key presence/absence — translated by swapping the sides into
    Spark's LEFT SEMI/ANTI."""
    spark.sql(
        "SELECT * FROM (VALUES (1), (2)) AS t(k)"
    ).createOrReplaceTempView("rs_left")
    spark.sql(
        "SELECT * FROM (VALUES (1, 'x'), (2, 'y'), (3, 'z'))"
        " AS t(k, v)"
    ).createOrReplaceTempView("rs_right")
    semi = kql(
        spark,
        "rs_left | join kind=rightsemi (rs_right) on k | sort by k asc",
    ).collect()
    assert [(r["k"], r["v"]) for r in semi] == [(1, "x"), (2, "y")]
    anti = kql(
        spark,
        "rs_left | join kind=rightanti (rs_right) on k | sort by k asc",
    ).collect()
    assert [(r["k"], r["v"]) for r in anti] == [(3, "z")]
    # qualified-key form swaps the condition sides too
    qual = kql(
        spark,
        "rs_left | project k2 = k | join kind=rightsemi (rs_right)"
        " on $left.k2 == $right.k | sort by k asc",
    ).collect()
    assert [(r["k"], r["v"]) for r in qual] == [(1, "x"), (2, "y")]


def test_fork_reuses_shared_prefix_exchange(spark, sf_smoke):
    """fork branches embed the identical aggregate prefix; Spark's
    ReuseExchange must execute it once (the VERDICT's done-criterion
    for the multi-consumer pipe translation)."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | summarize n = count() by user_id"
        " | fork a = (where n >= 1 | project user_id, n)"
        " b = (top 2 by n | project user_id, n)",
    )
    rows = df.collect()  # AQE finalizes the plan; reuse appears after
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    labels = {r["fork_branch"] for r in rows}
    assert labels == {"a", "b"}
    with pytest.raises(ValueError, match="at least two branches"):
        kql_to_sql("T | fork (take 5)", spark)


def test_as_names_reusable_subtree(spark, sf_smoke):
    """`| as name` makes the current subtree referenceable from later
    subpipes (union/join) in the same statement."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        'events | where event_type == "purchase"'
        " | summarize n = count() by user_id | as peruser"
        " | where n >= 0"
        " | union (peruser | summarize total = sum(n))",
    )
    rows = df.collect()
    per_user = [r for r in rows if r["user_id"] is not None]
    total = [r for r in rows if r["user_id"] is None]
    assert len(total) == 1
    assert total[0]["total"] == sum(r["n"] for r in per_user)


def test_parse_kv_extracts_typed_columns(spark):
    spark.sql(
        "SELECT * FROM (VALUES ('a=1;b=x;c=2.5'), ('b=y'))"
        " AS t(s)"
    ).createOrReplaceTempView("pkv")
    rows = kql(
        spark,
        "pkv | parse-kv s as (a:long, b:string, c:real)"
        ' with (pair_delimiter=";", kv_delimiter="=")'
        " | project a, b, c | sort by b asc",
    ).collect()
    assert [(r["a"], r["b"], r["c"]) for r in rows] == [
        (1, "x", 2.5),
        (None, "y", None),
    ]
    with pytest.raises(ValueError, match="BOTH pair_delimiter"):
        kql_to_sql(
            'T | parse-kv s as (a:long) with (pair_delimiter=";")'
        )


def test_scalar_batch3_error_shapes(spark):
    """extract_all enforces the literal-regex subset with 1..16
    capture groups (multi-group supported since round 10 — see
    test_battery10_value_checks); column_ifexists without a session
    falls through to a loud parser error instead of a silent
    guess."""
    # multi-group translates now; ZERO groups is still a loud error
    sql = kql_to_sql('T | extend x = extract_all("(a)(b)", s)')
    assert "transform(regexp_extract_all" in sql
    with pytest.raises(ValueError, match="1..16 capture groups"):
        kql_to_sql('T | extend x = extract_all("ab", s)')
    with pytest.raises(ValueError, match="literal regex"):
        kql_to_sql("T | extend x = extract_all(pat, s)")
    # without a session the call reaches Spark's parser untranslated
    sql = kql_to_sql('T | extend x = column_ifexists("a", 1)')
    assert "column_ifexists" in sql


def test_parse_url_field_access(spark):
    spark.range(1).createOrReplaceTempView("one")
    r = kql(
        spark,
        'one | extend u = "http://u:p@h.example.org:9090/a/b?x=1#f"'
        " | project s = parse_url(u).Scheme, h = parse_url(u).Host,"
        " pt = parse_url(u).Port, pa = parse_url(u).Path,"
        " q = parse_url(u).Query, fr = parse_url(u).Fragment",
    ).collect()[0]
    assert (r["s"], r["h"], r["pt"], r["pa"], r["q"], r["fr"]) == (
        "http", "h.example.org", "9090", "/a/b", "x=1", "f",
    )


def test_pivot_bag_unpack_child_cached_once(spark, sf_smoke):
    """evaluate pivot/bag_unpack need the child twice (column discovery
    + final query); the translator localCheckpoints it so the final
    plan reads materialized rows instead of re-running an expensive
    upstream pipe (round-3 verdict item)."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | summarize n = count() by user_id, event_type"
        " | evaluate pivot(event_type, sum(n))",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the aggregate ran once at translation time; the final plan scans
    # the checkpointed result, not parquet
    assert "ExistingRDD" in plan
    assert "parquet" not in plan.lower()
    assert df.count() > 0
    df2 = kql(
        spark,
        "events | take 50 | evaluate bag_unpack(props)",
    )
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan2 and "parquet" not in plan2.lower()
    assert "k" in df2.columns


def test_invoke_function_let(spark, sf_smoke):
    """`invoke f()` applies a `let f = (source:(*)) { … };` function
    let to the pipe; referencing the let as a table head or invoking a
    non-function is a loud error."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "let top3 = (src:(*)) { src | summarize n = count()"
        " by event_type | top 3 by n };"
        "events | invoke top3()",
    )
    rows = df.collect()
    assert len(rows) == 3 and rows[0]["n"] >= rows[-1]["n"]
    with pytest.raises(ValueError, match="function let"):
        kql_to_sql(
            "let f = (s:(*)) { s | count }; f | take 1"
        )
    with pytest.raises(ValueError, match="not a function let"):
        kql_to_sql("let t = events | take 1; events | invoke t()")
    # passing args to a zero-scalar-param fn stays loud (battery 17
    # added positional scalar args, so the message names the arity)
    with pytest.raises(ValueError, match="at most 0 scalar args"):
        kql_to_sql(
            "let f = (s:(*)) { s | count }; events | invoke f(3)"
        )


def test_externaldata_csv_and_union(spark, tmp_path):
    p1 = tmp_path / "a.csv"
    p2 = tmp_path / "b.csv"
    p1.write_text("1,x\n2,y\n")
    p2.write_text("3,z\nbad,w\n")
    rows = kql(
        spark,
        f'externaldata (k:long, v:string) ["{p1}", "{p2}"]'
        " | sort by v asc",
    ).collect()
    # try_cast: the unparseable cell lands as NULL, not an ANSI error
    assert [(r["k"], r["v"]) for r in rows] == [
        (None, "w"), (1, "x"), (2, "y"), (3, "z"),
    ]
    with pytest.raises(ValueError, match="unsupported externaldata"):
        kql_to_sql(
            f'externaldata (k:long) ["{p1}"] with (format="avro")'
        )
    with pytest.raises(ValueError, match="must be quoted"):
        kql_to_sql("externaldata (k:long) [/tmp/x.csv]")


def test_externaldata_json(spark, tmp_path):
    p = tmp_path / "d.json"
    p.write_text('{"a": 1, "b": "u"}\n{"a": 2, "b": "v"}\n')
    rows = kql(
        spark,
        f'externaldata (b:string, a:long) ["{p}"]'
        ' with (format="json") | sort by a asc',
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, "u"), (2, "v")]


def test_union_withsource_and_project_reorder(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | project event_id, value"
        " | union withsource=src (datatable(event_id:long)[1, 2])"
        " | take 5",
    )
    assert df.columns[0] == "src"
    assert {r["src"] for r in kql(
        spark,
        "events | project event_id"
        " | union withsource=src (datatable(event_id:long)[1])"
        " | distinct src",
    ).collect()} == {"events", "union_arg"}
    with pytest.raises(ValueError, match="withsource needs a SparkSession"):
        kql_to_sql("T | union withsource=s (U)")
    # project-reorder: listed first, remainder in existing order
    df2 = kql(
        spark,
        "events | project event_id, ts, user_id"
        " | project-reorder user_id | take 1",
    )
    assert df2.columns == ["user_id", "event_id", "ts"]
    with pytest.raises(ValueError, match="unknown columns"):
        kql(spark, "events | project-reorder nope")


def test_top_nested_three_levels(spark):
    """top-nested generalizes past 2 levels: each level is one grouped
    agg + one parent-key window, hand-checked hierarchy."""
    rows = kql(
        spark,
        "datatable(r:string, t:string, u:long, v:long)["
        ' "a", "x", 1, 10, "a", "x", 2, 20, "a", "y", 1, 5,'
        ' "b", "x", 3, 7, "b", "z", 3, 9, "b", "z", 4, 1, "c", "q", 5, 2]'
        " | top-nested 2 of r by s1 = sum(v),"
        " top-nested 1 of t by s2 = sum(v),"
        " top-nested 1 of u by s3 = sum(v)"
        " | sort by r asc",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("a", 35, "x", 30, 2, 20),
        ("b", 17, "z", 10, 3, 9),
    ]
    with pytest.raises(ValueError, match="single-level"):
        kql_to_sql(
            "T | top-nested 2 of a by count(),"
            ' top-nested 1 of b with others = "O" by count()'
        )


def test_join_hint_strategies(spark, sf_smoke):
    """hint.strategy=broadcast hints the LEFT side (the ADX contract);
    shuffle becomes a SHUFFLE_HASH hint on the right. summarize hints
    are accepted and stripped (Spark's grouped agg is already the
    hinted key-shuffled shape)."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | summarize n = count() by user_id"
        " | join kind=inner hint.strategy=broadcast"
        " (events | summarize m = count() by user_id) on user_id",
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    df2 = kql(
        spark,
        "events | summarize n = count() by user_id"
        " | join kind=inner hint.strategy=shuffle"
        " (events | summarize m = count() by user_id) on user_id",
    )
    df2.collect()
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan2
    with pytest.raises(ValueError, match="hint.strategy"):
        kql_to_sql("T | join hint.strategy=banana (U) on k")
    sql = kql_to_sql(
        "T | summarize hint.shufflekey=k n = count() by k"
    )
    assert "GROUP BY" in sql and "hint" not in sql


def test_extract_typed_and_reduce(spark):
    spark.sql(
        "SELECT * FROM (VALUES ('id=42 ok'), ('id=x bad'))"
        " AS t(s)"
    ).createOrReplaceTempView("tx")
    rows = kql(
        spark,
        'tx | extend v = extract("id=([0-9a-z]+)", 1, s, typeof(long))'
        " | project s, v | sort by s asc",
    ).collect()
    assert [(r["s"], r["v"]) for r in rows] == [
        ("id=42 ok", 42), ("id=x bad", None),
    ]
    red = kql(
        spark,
        "tx | reduce by s | sort by Pattern asc",
    ).collect()
    assert [(r["Pattern"], r["Count"], r["Representative"])
            for r in red] == [
        ("id=* ok", 1, "id=42 ok"), ("id=x bad", 1, "id=x bad"),
    ]


def test_project_away_keep_wildcards(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | extend tmp_a = 1, tmp_b = 2"
        " | project-away tmp_*, props | take 1",
    )
    assert "tmp_a" not in df.columns and "props" not in df.columns
    assert "event_id" in df.columns
    df2 = kql(spark, "events | project-keep event_* | take 1")
    assert df2.columns == ["event_id", "event_type"]
    with pytest.raises(ValueError, match="no columns match"):
        kql(spark, "events | project-keep zz_*")
    with pytest.raises(ValueError, match="need a SparkSession"):
        kql_to_sql("T | project-away tmp_*")


def test_mv_expand_typeof(spark):
    spark.sql(
        "SELECT array('1', 'x', '3') AS a"
    ).createOrReplaceTempView("mvt")
    rows = kql(
        spark, "mvt | mv-expand a to typeof(long)"
    ).collect()
    assert [r["a"] for r in rows] == [1, None, 3]
    with pytest.raises(ValueError, match="unknown type"):
        kql_to_sql("T | mv-expand a to typeof(widget)")


def test_series_fit_line_exact(spark):
    """series_fit_line on a perfectly linear series: slope/interception
    recovered exactly, rsquare = 1, rvariance = 0, line_fit == input."""
    spark.range(1).createOrReplaceTempView("one")
    df = kql(
        spark,
        "one | extend y = pack_array(1.0, 3.0, 5.0, 7.0)"
        " | extend (rsq, slope, va, rva, icept, fit) = series_fit_line(y)"
        " | project rsq, slope, va, rva, icept",
    )
    row = df.collect()[0]
    assert row["slope"] == pytest.approx(2.0)
    assert row["icept"] == pytest.approx(1.0)
    assert row["rva"] == pytest.approx(0.0)
    assert row["rsq"] == pytest.approx(1.0)
    assert row["va"] == pytest.approx(5.0)  # population variance


def test_series_stats_idx_first_occurrence(spark):
    spark.range(1).createOrReplaceTempView("one")
    row = kql(
        spark,
        "one | extend y = pack_array(4.0, 1.0, 4.0, 1.0, 9.0)"
        " | extend (mn, mni, mx, mxi, av, va, sd) = series_stats(y)"
        " | project mn, mni, mx, mxi, av",
    ).collect()[0]
    assert (row["mn"], row["mni"]) == (1.0, 1)  # first occurrence, 0-based
    assert (row["mx"], row["mxi"]) == (9.0, 4)
    assert row["av"] == pytest.approx(3.8)


def test_series_outliers_flags_spike(spark):
    """A flat series with one spike: only the spike scores nonzero,
    and the score is positive (above the upper fence)."""
    spark.range(1).createOrReplaceTempView("one")
    row = kql(
        spark,
        "one | extend y = pack_array(1.0, 1.0, 2.0, 1.0, 2.0, 1.0,"
        " 2.0, 1.0, 2.0, 50.0)"
        " | extend s = series_outliers(y) | project s",
    ).collect()[0]
    scores = row["s"]
    assert all(v == 0.0 for v in scores[:-1])
    assert scores[-1] > 0


def test_series_decompose_anomalies_finds_break(spark):
    """Periodic series (period 2) with one broken element: the
    decomposition's residual Tukey pass flags exactly that element."""
    spark.range(1).createOrReplaceTempView("one")
    vals = ", ".join(
        str(v)
        for v in ([10.0, 1.0] * 7 + [10.0, 30.0] + [10.0, 1.0] * 6)
    )
    row = kql(
        spark,
        f"one | extend y = pack_array({vals})"
        " | extend (an, sc, bl) = series_decompose_anomalies(y, 2)"
        " | project an",
    ).collect()[0]
    an = row["an"]
    assert an[15] == 1  # the broken element (index 15)
    assert sum(1 for v in an if v != 0) == 1


def test_series_chain_must_be_only_extend_item():
    with pytest.raises(ValueError, match="only extend item"):
        kql_to_sql(
            "t | extend a = 1, (r, s, v, rv, i, f) = series_fit_line(y)"
        )


def test_series_chain_arity_checked():
    with pytest.raises(ValueError, match="assigns 6 columns"):
        kql_to_sql("t | extend (a, b) = series_fit_line(y)")


def test_print_and_datatable(spark):
    row = kql(spark, 'print x = 2 + 3, "y"').collect()[0]
    assert row["x"] == 5 and row["print_1"] == "y"
    df = kql(
        spark,
        'datatable(a: string, n: long)["p", 1, "q", 2] | sort by a asc',
    )
    assert [tuple(r) for r in df.collect()] == [("p", 1), ("q", 2)]
    assert dict(df.dtypes)["n"] == "bigint"


def test_datatable_ragged_values_rejected():
    with pytest.raises(ValueError, match="whole rows"):
        kql_to_sql('datatable(a: string, n: long)["p", 1, "q"]')


def test_search_matches_any_string_column(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    # 'purch' appears in event_type; search is case-insensitive like ADX
    n = kql(spark, 'events | search "PURCH" | count').collect()[0]["Count"]
    direct = kql(
        spark, 'events | where event_type contains "purch" | count'
    ).collect()[0]["Count"]
    assert n >= direct > 0
    with pytest.raises(ValueError, match="SparkSession"):
        kql_to_sql('events | search "x"')


def test_partition_top_is_single_window_not_subqueries(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(spark, "events | partition by user_id (top 2 by event_id)")
    per_user = (
        df.groupBy("user_id").count().agg({"count": "max"}).collect()[0][0]
    )
    assert per_user <= 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    # window row_number over the partition key — no N-way union of
    # per-key subqueries (the node name recurs in the plan text's
    # argument lines, so presence not count)
    assert "Window" in plan and "Union" not in plan


def test_partition_summarize_rewrites_to_grouped_agg(spark, sf_smoke):
    # ADX contract (round-11 advice): when the subpipe's summarize
    # omits the partition key from its by-list, the output is the
    # union of per-key outputs and carries ONLY the aggregate
    # columns — the key must not leak into the schema.
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark, "events | partition by event_type (summarize n = count())"
    )
    assert df.columns == ["n"]
    a = sorted(r["n"] for r in df.collect())
    b = sorted(
        r["n"]
        for r in kql(
            spark, "events | summarize n = count() by event_type"
        ).collect()
    )
    assert a == b
    # key explicitly in the by-list -> key stays in the schema
    df2 = kql(
        spark,
        "events | partition by event_type"
        " (summarize n = count() by event_type)",
    )
    assert df2.columns == ["event_type", "n"]
    # round-12 verdict item 2: referencing the key AFTER a summarize
    # that omits it must be LOUD — ADX's schema there has no key, so
    # silently resolving against the implicitly-added column (then
    # flushing it) was a divergence
    for bad in (
        "events | partition by event_type (summarize n = count()"
        " | extend t = strcat(event_type, '!'))",
        "events | partition by event_type (summarize n = count()"
        " | project event_type, n)",
        "events | partition by event_type (summarize n = count()"
        " | where event_type != 'x')",
        "events | partition by event_type (summarize n = count()"
        " | top 1 by event_type)",
    ):
        with pytest.raises(ValueError, match="no longer in the schema"):
            kql(spark, bad)
    # but a projection that DROPS it stays fine (documented leniency)
    df3 = kql(
        spark,
        "events | partition by event_type (summarize n = count()"
        " | project n)",
    )
    assert df3.columns == ["n"]
    # round-13 advice: the key appearing only inside a STRING LITERAL
    # is not a column reference — ADX accepts this query, so the
    # loudness check must blank string spans before searching
    df4 = kql(
        spark,
        "events | partition by event_type (summarize n = count()"
        " | extend lbl = strcat('event_type', '-x')"
        " | sort by n desc)",
    )
    assert df4.columns == ["n", "lbl"]
    assert all(r["lbl"] == "event_type-x" for r in df4.collect())
    # a real reference OUTSIDE the literal in the same stage stays loud
    with pytest.raises(ValueError, match="no longer in the schema"):
        kql(
            spark,
            "events | partition by event_type (summarize n = count()"
            " | extend lbl = strcat('event_type', event_type))",
        )


def test_scan_greedy_sequence_semantics(spark):
    """Deterministic literal-table check of the documented scan
    semantics: greedy single-instance advance, restart after the last
    step, non-advancing rows dropped."""
    out = kql(
        spark,
        'datatable(u: long, t: long, e: string)'
        ' [1, 1, "view", 1, 2, "click", 1, 3, "buy",'
        '  1, 4, "view", 1, 5, "view", 1, 6, "click",'
        '  2, 1, "click", 2, 2, "view", 2, 3, "buy", 2, 4, "buy"]'
        " | sort by u asc, t asc"
        ' | scan by u with (step sv: e == "view";'
        ' step sc: e == "click"; step sb: e == "buy")'
        " | project u, t, step, match_id",
    ).collect()
    got = sorted((r["u"], r["t"], r["step"], r["match_id"]) for r in out)
    assert got == [
        (1, 1, "sv", 0), (1, 2, "sc", 0), (1, 3, "sb", 0),
        (1, 4, "sv", 1),  # t=5 second view does NOT advance (needs click)
        (1, 6, "sc", 1),  # match 1 left incomplete — still emitted
        (2, 2, "sv", 0),  # user 2: leading click ignored, buys don't chain
    ]


def test_scan_requires_sort():
    with pytest.raises(ValueError, match="sort"):
        kql_to_sql('t | scan by u with (step a: x == 1)')


def test_basket_segments_cover_marginals_and_pairs(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | project event_type,"
        ' band = case(value < 50, "low", "high")'
        " | evaluate basket(0.1)",
    )
    rows = df.collect()
    total = spark.table("events").count()
    assert all(r["Count"] >= 0.1 * total for r in rows)
    # marginals present as wildcard (NULL) rows
    assert any(r["event_type"] is None and r["band"] is not None for r in rows)
    assert any(r["event_type"] is not None and r["band"] is None for r in rows)
    # no all-wildcard segment
    assert not any(r["event_type"] is None and r["band"] is None for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan  # ONE cube aggregation, not a union of passes


def test_scalar_batch5_values(spark):
    """Round-6 scalar batch 5: spot value checks for each family (the
    oracle entries kql_scalar_fns5/6 carry the exhaustive compare)."""
    spark.sql(
        "SELECT array(1,2,3) AS x, array(2,3,4) AS y, 'abc' AS s,"
        " '10.2.3.4' AS ip, 2048 AS n"
    ).createOrReplaceTempView("sb5_t")
    r = kql(
        spark,
        "sb5_t | project"
        ' su = strcat_array(set_union(x, y), "-"),'
        ' rl = strcat_array(array_rotate_left(x, 1), "-"),'
        ' sh = strcat_array(array_shift_right(x, 1, 0), "-"),'
        ' rp = strcat_array(repeat(7, 3), "-"),'
        " p4 = parse_ipv4(ip),"
        ' bad4 = parse_ipv4("999.1.1.1"),'
        ' rng = ipv4_is_in_range(ip, "10.0.0.0/8"),'
        ' ir = indexof_regex(s, "z"),'
        ' pv = tostring(parse_version("1.2.3")),'
        " fb = format_bytes(n),"
        ' gu = toguid("nope"),'
        " dec = todecimal(\"1.5\") == todecimal(\"1.50\")",
    ).collect()[0]
    assert r["su"] == "1-2-3-4" and r["rl"] == "2-3-1"
    assert r["sh"] == "0-1-2" and r["rp"] == "7-7-7"
    assert r["p4"] == 167904004 and r["bad4"] is None
    assert r["rng"] is True and r["ir"] == -1
    assert r["pv"] == "1000000020000000300000000"
    assert r["fb"] == "2 KB" and r["gu"] is None and r["dec"] is True
    # subset errors
    with pytest.raises(ValueError, match="literal"):
        kql_to_sql("t | extend a = ipv4_is_in_range(ip, rangecol)")
    # round-7: N-ary zip folds pairwise (was a 2-array subset error)
    assert "array_append" in kql_to_sql("t | extend a = zip(x, y, z)")
    with pytest.raises(ValueError, match="at least two"):
        kql_to_sql("t | extend a = zip(x)")


def test_agg_batch2_values(spark):
    """Round-6 aggregate batch 2: exact spot checks on a tiny frame."""
    spark.sql(
        "SELECT * FROM VALUES (1, 'g'), (4, 'g'), (4, 'g'), (7, 'h')"
        " AS t(v, g)"
    ).createOrReplaceTempView("ab2_t")
    rows = {
        r["g"]: r
        for r in kql(
            spark,
            "ab2_t | summarize va = variance(v), vap = variancep(v),"
            " bo = binary_all_or(v), bx = binary_all_xor(v),"
            " ta = take_any(v), cd = count_distinct(v),"
            " ml = make_list_if(v, v > 1) by g",
        ).collect()
    }
    g = rows["g"]
    assert g["va"] == 3.0 and g["vap"] == 2.0
    assert g["bo"] == 5 and g["bx"] == 1
    assert g["ta"] == 1 and g["cd"] == 2 and g["ml"] == [4, 4]
    # multi-assign percentiles takes the caller's names
    r = kql(
        spark,
        "ab2_t | summarize (lo, hi) = percentiles(v, 25, 75) by g"
        " | sort by g asc",
    ).collect()
    assert [c for c in r[0].asDict()] == ["g", "lo", "hi"]
    with pytest.raises(ValueError, match="one name per"):
        kql_to_sql("t | summarize (a) = percentiles(x, 25, 75) by g")


def test_rows_near_and_sliding_window(spark):
    """Round-6: rows_near bounded-frame context; sliding_window_counts
    whole-bin window semantics."""
    spark.sql(
        "SELECT * FROM VALUES (1, 'a'), (2, 'a'), (3, 'HIT'),"
        " (4, 'a'), (5, 'a'), (6, 'a'), (9, 'HIT') AS t(i, s)"
    ).createOrReplaceTempView("rn_t")
    rows = kql(
        spark,
        "rn_t | sort by i asc"
        ' | evaluate rows_near(s == "HIT", 1) | project i',
    ).collect()
    assert sorted(r["i"] for r in rows) == [2, 3, 4, 6, 9]
    # asymmetric: 0 before, 2 after
    rows = kql(
        spark,
        "rn_t | sort by i asc"
        ' | evaluate rows_near(s == "HIT", 0, 2) | project i',
    ).collect()
    assert sorted(r["i"] for r in rows) == [3, 4, 5, 9]
    # sliding window: ids at days 1, 2, 4 with a 2-day window
    spark.sql(
        "SELECT * FROM VALUES"
        " (7, timestamp'2024-01-01 05:00:00'),"
        " (7, timestamp'2024-01-02 05:00:00'),"
        " (8, timestamp'2024-01-02 06:00:00'),"
        " (7, timestamp'2024-01-04 05:00:00')"
        " AS t(id, ts)"
    ).createOrReplaceTempView("sw_t")
    rows = kql(
        spark,
        "sw_t | evaluate sliding_window_counts(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-05), 2d, 1d)",
    ).collect()
    got = {str(r["ts"])[:10]: (r["Count"], r["Dcount"]) for r in rows}
    assert got == {
        "2024-01-01": (1, 1),  # day1 event
        "2024-01-02": (3, 2),  # day1+day2 events, ids {7,8}
        "2024-01-03": (2, 2),  # day2 events
        "2024-01-04": (1, 1),  # day4 event
        "2024-01-05": (1, 1),  # day4 in 2-day window
    }
    with pytest.raises(ValueError, match="whole-second multiple"):
        kql_to_sql(
            "t | evaluate sliding_window_counts(id, ts,"
            " datetime(2024-01-01), datetime(2024-01-05), 5h, 2h)"
        )


def test_scalar_batch8_values(spark):
    """Round-6 scalar batch 8: bit ops, exp2, 2-arg floor/bin
    synonyms, datetime_part, tz converters, gettype, bounded rand."""
    spark.sql(
        "SELECT 5 AS n, CAST(2.7 AS DOUBLE) AS x,"
        " timestamp'2024-03-05 14:07:08' AS ts"
    ).createOrReplaceTempView("sb8_t")
    r = kql(
        spark,
        "sb8_t | extend ba = binary_and(n, 3), bo = binary_or(n, 2),"
        " bx = binary_xor(n, 1), bn = binary_not(n),"
        " sl = binary_shift_left(n, 2), sr = binary_shift_right(n, 1),"
        " co = bitset_count_ones(n), e2 = exp2(3),"
        " fl = floor(x, 0.5), b = bin(x, 0.5),"
        ' dm = datetime_part("month", ts),'
        ' ul = tostring(datetime_utc_to_local(ts, "US/Pacific")),'
        " gt = gettype(x), gd = gettype(ts),"
        " rr = rand(10) < 10 and rand(10) >= 0",
    ).collect()[0]
    assert (r["ba"], r["bo"], r["bx"], r["bn"]) == (1, 7, 4, -6)
    assert (r["sl"], r["sr"], r["co"], r["e2"]) == (20, 2, 2, 8.0)
    assert r["fl"] == 2.5 and r["b"] == 2.5
    assert r["dm"] == 3 and r["ul"] == "2024-03-05 06:07:08"
    assert r["gt"] == "real" and r["gd"] == "datetime"
    assert r["rr"] is True
    # datetime bin() unchanged by the numeric-bin rewrite
    r2 = kql(spark, "sb8_t | extend b2 = bin(ts, 1h)").collect()[0]
    assert str(r2["b2"]) == "2024-03-05 14:00:00"
    with pytest.raises(ValueError, match="unsupported part"):
        kql_to_sql('t | extend a = datetime_part("fortnight", ts)')


def test_make_list_max_size(spark):
    """Round-6: make_list/make_set optional maxSize keeps the first N
    sorted elements (deterministic refinement)."""
    spark.sql(
        "SELECT * FROM VALUES (3, 'g'), (1, 'g'), (2, 'g') AS t(v, g)"
    ).createOrReplaceTempView("mls_t")
    r = kql(
        spark,
        "mls_t | summarize a = make_list(v, 2), b = make_set(v, 1),"
        " c = make_list(v) by g",
    ).collect()[0]
    assert r["a"] == [1, 2] and r["b"] == [1] and r["c"] == [1, 2, 3]
    with pytest.raises(ValueError, match="literal int"):
        kql_to_sql("t | summarize a = make_list(v, n) by g")


def test_diffpatterns_text_and_bag_utils(spark):
    """Round-6: diffpatterns_text token diffing; bag_has_key /
    bag_remove_keys; a second fork REPLACES the fork_branch label."""
    spark.sql(
        "SELECT * FROM VALUES"
        " ('alpha beta', 'A'), ('alpha gamma', 'A'),"
        " ('beta delta', 'B'), ('delta gamma', 'B')"
        " AS t(txt, side)"
    ).createOrReplaceTempView("dpt_t")
    rows = kql(
        spark,
        'dpt_t | evaluate diffpatterns_text(txt, side, "A", "B")',
    ).collect()
    got = {r["Pattern"]: (r["CountA"], r["CountB"]) for r in rows}
    assert got["alpha"] == (2, 0) and got["delta"] == (0, 2)
    assert got["beta"] == (1, 1) and got["gamma"] == (1, 1)
    assert [r["SegmentId"] for r in rows] == list(range(len(rows)))
    # bag utils
    spark.sql(
        "SELECT '{\"a\": 1, \"b\": 2}' AS bag"
    ).createOrReplaceTempView("bu_t")
    r = kql(
        spark,
        'bu_t | extend h = bag_has_key(bag, "a"),'
        ' hz = bag_has_key(bag, "z"),'
        ' rm = bag_remove_keys(bag, pack_array("a"))',
    ).collect()[0]
    assert r["h"] is True and r["hz"] is False
    # values keep their JSON types through the variant map round-trip
    # (round-11 battery 21; map<string,string> widened 2 to "2" before)
    assert r["rm"] == '{"b":2}'
    # double fork: one fork_branch column, from the second fork
    df = kql(
        spark,
        "bu_t | fork fa = (take 1) fb = (take 1)"
        " | fork g1 = (take 1) g2 = (take 1)",
    )
    assert df.columns.count("fork_branch") == 1
    assert sorted(
        {r["fork_branch"] for r in df.collect()}
    ) == ["g1", "g2"]


def test_percentilew_exact(spark):
    """Round-6: percentilew — smallest value whose cumulative weight
    reaches p% of the total in sorted order."""
    spark.sql(
        "SELECT * FROM VALUES (1.0, 1, 'g'), (2.0, 1, 'g'),"
        " (3.0, 8, 'g') AS t(v, w, g)"
    ).createOrReplaceTempView("pw_t")
    r = kql(
        spark,
        "pw_t | summarize p50 = percentilew(v, w, 50),"
        " p20 = percentilew(v, w, 20), p100 = percentilew(v, w, 100)"
        " by g",
    ).collect()[0]
    assert (r["p50"], r["p20"], r["p100"]) == (3.0, 2.0, 3.0)
    with pytest.raises(ValueError, match="col, weight, p"):
        kql_to_sql("t | summarize a = percentilew(v, 50) by g")


def test_find_cross_table(spark):
    """Round-6: find in (T1, T2) — union-by-name + source label,
    predicate over the union, optional projection; `project` inside a
    string literal in the predicate must stay text."""
    spark.sql("SELECT 1 AS a, 'x' AS s").createOrReplaceTempView("f1_t")
    spark.sql("SELECT 2 AS b, 'y' AS s").createOrReplaceTempView("f2_t")
    rows = kql(
        spark,
        'find in (f1_t, f2_t) where s == "x" or b == 2',
    ).collect()
    got = sorted((r["source_"], r["a"], r["b"], r["s"]) for r in rows)
    assert got == [("f1_t", 1, None, "x"), ("f2_t", None, 2, "y")]
    rows = kql(
        spark,
        "find withsource=tbl in (f1_t, f2_t)"
        ' where s != "project me" project s',
    ).collect()
    assert sorted((r["tbl"], r["s"]) for r in rows) == [
        ("f1_t", "x"), ("f2_t", "y")
    ]
    with pytest.raises(ValueError, match="SparkSession"):
        kql_to_sql('find in (a, b) where x == 1')


def test_review_fixes_round6(spark):
    """Round-6 adversarial review pins: (1) `toscalar(` inside a
    string literal stays text; (2) typeof(x:t, *) keeps the EXPLICIT
    type when the star would re-add x; (3) activity plugins reject
    expression id/timeline args instead of interpolating them."""
    spark.sql("SELECT 1 AS x, 2.0 AS v").createOrReplaceTempView(
        "rv6_t"
    )
    r = kql(
        spark, 'rv6_t | extend s = "toscalar(7)" | project s'
    ).collect()[0]
    assert r["s"] == "toscalar(7)"
    df = kql(
        spark,
        "rv6_t | evaluate python(typeof(x:real, *),"
        " 'result = df.assign(x = df.x * 1.5)')",
        enable_python=True,
    )
    assert dict(df.dtypes)["x"] == "double"
    assert df.collect()[0]["x"] == 1.5
    for bad in (
        "t | evaluate active_users_count(id + 1, ts,"
        " datetime(2024-01-01), datetime(2024-01-04), 2d, 1d, 2)",
        "t | evaluate sliding_window_counts(id, ts + 1h,"
        " datetime(2024-01-01), datetime(2024-01-04), 2d, 1d)",
        "t | evaluate funnel_sequence_completion(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-08), 7d,"
        ' tolower(st), dynamic(["A"]))',
    ):
        with pytest.raises(ValueError, match="plain columns"):
            kql_to_sql(bad)


def test_new_activity_metrics_cohorts(spark):
    """Round-6: new_activity_metrics — (from, to) cohort matrix."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (1, timestamp'2024-01-01 10:00:00'),"
        " (2, timestamp'2024-01-01 11:00:00'),"
        " (1, timestamp'2024-01-02 10:00:00'),"
        " (3, timestamp'2024-01-02 11:00:00')"
        " AS t(id, ts)"
    ).createOrReplaceTempView("nam_t")
    rows = kql(
        spark,
        "nam_t | evaluate new_activity_metrics(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-03), 1d)",
    ).collect()
    got = {
        (str(r["from_ts"])[:10], str(r["to_ts"])[:10]): (
            r["dcount_new_values"],
            r["dcount_retained_values"],
            round(r["retention_rate"], 3),
        )
        for r in rows
    }
    # cohort day1 = {1,2}: day1 2/2 retained, day2 1/2 (id1);
    # cohort day2 = {3}: day2 1/1
    assert got == {
        ("2024-01-01", "2024-01-01"): (2, 2, 1.0),
        ("2024-01-01", "2024-01-02"): (2, 1, 0.5),
        ("2024-01-02", "2024-01-02"): (1, 1, 1.0),
    }


def test_activity_metrics(spark):
    """Round-6: activity_metrics — actives/new/retention/churn per
    period on a hand-checked frame."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (1, timestamp'2024-01-01 10:00:00'),"
        " (2, timestamp'2024-01-01 11:00:00'),"
        " (1, timestamp'2024-01-02 10:00:00'),"
        " (3, timestamp'2024-01-02 11:00:00')"
        " AS t(id, ts)"
    ).createOrReplaceTempView("am_t")
    rows = kql(
        spark,
        "am_t | evaluate activity_metrics(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-03), 1d)",
    ).collect()
    got = {
        str(r["ts"])[:10]: (
            r["dcount_values"],
            r["dcount_newvalues"],
            round(r["retention_rate"], 3),
            round(r["churn_rate"], 3),
        )
        for r in rows
    }
    # day1: {1,2} all new, no previous -> retention/churn 0
    # day2: {1,3}, new {3}; retained {1} of day1's 2 -> 0.5/0.5
    assert got == {
        "2024-01-01": (2, 2, 0.0, 0.0),
        "2024-01-02": (2, 1, 0.5, 0.5),
    }


def test_activity_engagement(spark):
    """Round-6: activity_engagement — inner/outer distinct ratio over
    whole bins (2-day outer, 1-day inner on a tiny frame)."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (1, timestamp'2024-01-01 10:00:00'),"
        " (2, timestamp'2024-01-01 11:00:00'),"
        " (1, timestamp'2024-01-02 10:00:00')"
        " AS t(id, ts)"
    ).createOrReplaceTempView("ae_t")
    rows = kql(
        spark,
        "ae_t | evaluate activity_engagement(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-03), 1d, 2d)",
    ).collect()
    got = {
        str(r["ts"])[:10]: (
            r["dcount_activities_inner"],
            r["dcount_activities_outer"],
            round(r["activity_ratio"], 3),
        )
        for r in rows
    }
    # day1: inner {1,2} outer {1,2}; day2: inner {1}, outer {1,2};
    # day3: inner {}, outer {1} (day2's activity still in window)
    assert got == {
        "2024-01-01": (2, 2, 1.0),
        "2024-01-02": (1, 2, 0.5),
        "2024-01-03": (0, 1, 0.0),
    }
    with pytest.raises(ValueError, match="whole-second multiple"):
        kql_to_sql(
            "t | evaluate activity_engagement(id, ts,"
            " datetime(2024-01-01), datetime(2024-01-03), 5h, 12h)"
        )


def test_session_count(spark):
    """Round-6: session_count — sessions active at aligned points;
    in-session gaps <= lookback make [first, last+lookback) exact."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (7, timestamp'2024-01-01 23:00:00'),"
        " (7, timestamp'2024-01-02 01:00:00'),"
        " (7, timestamp'2024-01-03 22:00:00'),"
        " (8, timestamp'2024-01-01 21:30:00'),"
        " (9, timestamp'2024-01-02 00:00:00')"
        " AS t(id, ts)"
    ).createOrReplaceTempView("sct_t")
    rows = kql(
        spark,
        "sct_t | evaluate session_count(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-05), 1d, 6h)",
    ).collect()
    got = {str(r["ts"])[:10]: r["count_sessions"] for r in rows}
    # midnight 01-02: id7 (23:00->01:00+6h), id8 (21:30->03:30),
    # id9 (00:00->06:00); midnight 01-04: id7's second session
    assert got == {"2024-01-02": 3, "2024-01-04": 1}


def test_activity_plugins(spark):
    """Round-6: active_users_count, funnel_sequence_completion,
    ipv4_lookup — value-checked on tiny frames."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (7, timestamp'2024-01-01 05:00:00'),"
        " (7, timestamp'2024-01-02 05:00:00'),"
        " (8, timestamp'2024-01-02 06:00:00'),"
        " (8, timestamp'2024-01-03 06:00:00'),"
        " (9, timestamp'2024-01-03 07:00:00')"
        " AS t(id, ts)"
    ).createOrReplaceTempView("au_t")
    rows = kql(
        spark,
        "au_t | evaluate active_users_count(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-04), 2d, 1d, 2)",
    ).collect()
    got = {str(r["ts"])[:10]: r["dcount_id"] for r in rows}
    # 2-day windows needing >= 2 active days: id7 on days 1+2 -> bin 2;
    # id8 on days 2+3 -> bin 3
    assert got == {"2024-01-02": 1, "2024-01-03": 1}
    # Bin != Period is a subset error
    with pytest.raises(ValueError, match="Bin must equal Period"):
        kql_to_sql(
            "t | evaluate active_users_count(id, ts,"
            " datetime(2024-01-01), datetime(2024-01-04),"
            " 2d, 1d, 2, 12h)"
        )
    # funnel: u1 completes A->B in week 1; u2 only A
    spark.sql(
        "SELECT * FROM VALUES"
        " (1, timestamp'2024-01-01 01:00:00', 'A'),"
        " (1, timestamp'2024-01-02 01:00:00', 'B'),"
        " (2, timestamp'2024-01-03 01:00:00', 'A'),"
        " (2, timestamp'2024-01-02 01:00:00', 'B')"
        " AS t(id, ts, st)"
    ).createOrReplaceTempView("fn_t")
    rows = kql(
        spark,
        "fn_t | evaluate funnel_sequence_completion(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-08), 7d, st,"
        ' dynamic(["A", "B"]))',
    ).collect()
    got = {r["st"]: r["dcount"] for r in rows}
    # both reached A; only u1's B comes AFTER its A
    assert got == {"A": 2, "B": 1}
    # ipv4_lookup longest-prefix + unmatched
    spark.sql(
        "SELECT * FROM VALUES ('10.1.2.3'), ('8.8.8.8') AS t(ip)"
    ).createOrReplaceTempView("ipl_t")
    rows = kql(
        spark,
        "let L = datatable(network: string, zone: string)"
        '["10.0.0.0/8", "corp", "10.1.0.0/16", "lab"];'
        " ipl_t | evaluate ipv4_lookup(L, ip, network, true)",
    ).collect()
    got = {r["ip"]: r["zone"] for r in rows}
    assert got == {"10.1.2.3": "lab", "8.8.8.8": None}


def test_sequence_detect(spark):
    """Round-6: evaluate sequence_detect — step window enforced via
    cross-step state reference, greedy non-overlap per key."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (101, timestamp'2024-01-01 10:00:00', 'login'),"
        " (101, timestamp'2024-01-01 10:03:00', 'launch'),"
        " (101, timestamp'2024-01-01 12:00:00', 'login'),"
        " (101, timestamp'2024-01-01 14:00:00', 'launch'),"
        " (202, timestamp'2024-01-01 09:00:00', 'launch'),"
        " (202, timestamp'2024-01-01 09:30:00', 'login'),"
        " (202, timestamp'2024-01-01 09:34:00', 'launch')"
        " AS t(actor, ts, ev)"
    ).createOrReplaceTempView("seq_t")
    rows = kql(
        spark,
        'seq_t | extend e_login = ev == "login",'
        ' e_launch = ev == "launch"'
        " | evaluate sequence_detect(ts, 5m, 1h, e_login, e_launch,"
        " actor)",
    ).collect()
    got = sorted(
        (r["actor"], str(r["e_login_ts"]), str(r["e_launch_ts"]))
        for r in rows
    )
    # 101's 12:00 login never completes (14:00 launch is 2h > 5m);
    # 202's prior launch doesn't open a sequence
    assert got == [
        (101, "2024-01-01 10:00:00", "2024-01-01 10:03:00"),
        (202, "2024-01-01 09:30:00", "2024-01-01 09:34:00"),
    ]
    with pytest.raises(ValueError, match="at least one step"):
        kql(spark, "seq_t | evaluate sequence_detect(ts, 5m, 1h, actor)")


def test_format_datetime_adx_tokens(spark):
    """Round-6: ADX-only format tokens map on literal formats —
    f-runs (fractions) -> Java S-runs, tt -> AM/PM marker."""
    r = kql(
        spark,
        "print a = format_datetime(datetime(2024-03-05 14:07:08.1234),"
        " 'yyyy-MM-dd HH:mm:ss.fff'),"
        " b = format_datetime(datetime(2024-03-05 14:07:08),"
        " 'hh:mm tt')",
    ).collect()[0]
    assert r["a"] == "2024-03-05 14:07:08.123"
    assert r["b"] == "02:07 PM"


def test_row_window_session(spark):
    """Round-6: row_window_session — session-start tagging over the
    serialized order; composes with other extend items."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (1, timestamp'2024-01-01 10:00:00'),"
        " (2, timestamp'2024-01-01 10:30:00'),"
        " (3, timestamp'2024-01-01 13:00:00')"
        " AS t(i, ts)"
    ).createOrReplaceTempView("rws_t")
    rows = kql(
        spark,
        "rws_t | sort by ts asc"
        " | extend s = row_window_session(ts, 1h), rn = row_number()",
    ).collect()
    assert [(r["i"], str(r["s"])[:16], r["rn"]) for r in rows] == [
        (1, "2024-01-01 10:00", 1),
        (2, "2024-01-01 10:00", 2),
        (3, "2024-01-01 13:00", 3),
    ]
    with pytest.raises(ValueError, match="sort by"):
        kql_to_sql("t | extend s = row_window_session(ts, 1h)")


def test_row_rank_run_length(spark):
    """Round-6: row_rank_dense/min rank by CHANGES of the term — a
    recurring value gets a NEW rank (not SQL dense_rank's re-sort)."""
    spark.sql(
        "SELECT * FROM VALUES (1, 10), (2, 20), (3, 20), (4, 10)"
        " AS t(i, term)"
    ).createOrReplaceTempView("rrk_t")
    rows = kql(
        spark,
        "rrk_t | sort by i asc | extend d = row_rank_dense(term),"
        " m = row_rank_min(term), nx = next(i)",
    ).collect()
    assert [(r["d"], r["m"], r["nx"]) for r in rows] == [
        (1, 1, 2), (2, 2, 3), (2, 2, 4), (3, 4, None)
    ]
    with pytest.raises(ValueError, match="sort by"):
        kql_to_sql("t | extend d = row_rank_dense(term)")


def test_series_fill_toscalar_make_bag(spark):
    """Round-6: series_fill_forward/backward/linear edge semantics,
    toscalar scalar subqueries, make_bag sorted first-wins merge,
    mv-expand with_itemindex, prev/next in a sorted extend."""
    spark.sql(
        "SELECT array(CAST(NULL AS DOUBLE), 2.0, NULL, NULL, 8.0,"
        " NULL) AS m, 1 AS v"
    ).createOrReplaceTempView("sf_t")
    r = kql(
        spark,
        "sf_t | project f = series_fill_forward(m),"
        " b = series_fill_backward(m), l = series_fill_linear(m)",
    ).collect()[0]
    assert r["f"] == [None, 2.0, 2.0, 2.0, 8.0, 8.0]  # leading kept
    assert r["b"] == [2.0, 2.0, 8.0, 8.0, 8.0, None]  # trailing kept
    assert r["l"] == [2.0, 2.0, 4.0, 6.0, 8.0, 8.0]  # edges constant
    # toscalar: uncorrelated scalar subquery
    spark.sql(
        "SELECT * FROM VALUES (1), (5), (9) AS t(v)"
    ).createOrReplaceTempView("ts_t")
    rows = kql(
        spark, "ts_t | where v > toscalar(ts_t | summarize avg(v))"
    ).collect()
    assert [r["v"] for r in rows] == [9]
    # make_bag: sorted bag text, first-wins per key
    spark.sql(
        "SELECT * FROM VALUES ('{\"a\": 1}', 1, 'g'),"
        " ('{\"b\": 2}', 2, 'g'), ('{\"a\": 9}', 3, 'g')"
        " AS t(bag, v, g)"
    ).createOrReplaceTempView("mb_t")
    r = kql(
        spark,
        "mb_t | summarize mb = make_bag(bag),"
        " mbi = make_bag_if(bag, v > 1) by g",
    ).collect()[0]
    assert r["mb"] == '{"a":"1","b":"2"}'
    assert r["mbi"] == '{"a":"9","b":"2"}'
    # with_itemindex + serialized-extend windows
    rows = kql(
        spark,
        "ts_t | sort by v asc | extend nx = next(v), rn = row_number()",
    ).collect()
    assert [(r["v"], r["nx"], r["rn"]) for r in rows] == [
        (1, 5, 1), (5, 9, 2), (9, None, 3)
    ]
    rows = kql(
        spark,
        "sf_t | extend a = pack_array(v, v + 1)"
        " | mv-expand with_itemindex=ix a | project ix, a",
    ).collect()
    assert sorted((r["ix"], r["a"]) for r in rows) == [(0, 1), (1, 2)]


def test_terminal_stage_clash_replaces(spark):
    """Round-7 (advice): a clash in a TERMINAL stage (`T | extend x =
    x * 10` with no later reference to x) analyzes cleanly, so the
    AnalysisException retry never fires — kql() must still detect the
    duplicate output column and re-translate with replace semantics
    instead of returning two columns named x."""
    spark.sql("SELECT 3 AS x, 'k' AS s").createOrReplaceTempView("tc_t")
    df = kql(spark, "tc_t | extend x = x * 10")
    assert df.columns == ["x", "s"] or sorted(df.columns) == ["s", "x"]
    assert len(df.columns) == 2
    assert df.collect()[0]["x"] == 30
    # terminal parse over an existing target column, same rule
    df = kql(spark, 'tc_t | extend m = "v=9" | parse m with "v=" x:long')
    assert df.columns.count("x") == 1
    assert df.collect()[0]["x"] == 9


def test_hash_mod_arity(spark):
    """Round-7 (verdict fix): hash(x) == xxhash64(x) exactly (ADX's
    documented algorithm); hash(x, mod) reduces modulo mod into
    [0, mod) — previously the modulus was hashed as a second input."""
    from pyspark.sql import functions as F

    spark.sql(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (-7, 'c'),"
        " (123456789, 'd') AS t(k, s)"
    ).createOrReplaceTempView("h_t")
    got = kql(
        spark,
        "h_t | project k, h = hash(k), hm = hash(k, 10),"
        " hsm = hash(s, 7) | sort by k asc",
    ).collect()
    exp = (
        spark.table("h_t")
        .select(
            "k",
            F.xxhash64("k").alias("h"),
            F.pmod(F.xxhash64("k"), F.lit(10)).alias("hm"),
            F.pmod(F.xxhash64("s"), F.lit(7)).alias("hsm"),
        )
        .orderBy("k")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert all(0 <= r["hm"] < 10 and 0 <= r["hsm"] < 7 for r in got)
    with pytest.raises(ValueError, match="hash needs"):
        kql(spark, "h_t | project h = hash(k, 10, 3)")


def test_toscalar_escaped_quote_paren(spark):
    """Round-7 (advice): a toscalar body whose string literal contains
    an escaped quote followed by a paren must not close the balanced-
    paren span early."""
    spark.sql(
        "SELECT * FROM VALUES ('a\")', 1), ('zz', 2) AS t(s, v)"
    ).createOrReplaceTempView("tsq_t")
    r = kql(
        spark,
        "tsq_t | where v == toscalar(tsq_t | where s == \"a\\\")\""
        " | project v) | project s, v",
    ).collect()
    assert [(r0["s"], r0["v"]) for r0 in r] == [('a")', 1)]


def test_leading_union_and_search(spark):
    """Round-7 (verdict gap): queries may START with `union` or
    `search in (…)` — kind/isfuzzy/withsource options, table and
    parenthesized-pipe operands, name-aligned null-fill."""
    spark.sql(
        "SELECT * FROM VALUES (1,'a'),(2,'b') AS t(k, s)"
    ).createOrReplaceTempView("lu_a")
    spark.sql(
        "SELECT * FROM VALUES (3, 1.5),(4, 2.5) AS t(k, v)"
    ).createOrReplaceTempView("lu_b")
    rows = kql(
        spark, "union withsource=src lu_a, lu_b | sort by k asc"
    ).collect()
    assert [(r["src"], r["k"], r["s"], r["v"]) for r in rows] == [
        ("lu_a", 1, "a", None),
        ("lu_b", 3, None, 1.5),
        ("lu_b", 4, None, 2.5),
    ] or [r["k"] for r in rows] == [1, 2, 3, 4]
    assert rows[0]["src"] == "lu_a" and rows[-1]["src"] == "lu_b"
    # kind=inner keeps only common columns
    df = kql(spark, "union kind=inner lu_a, lu_b")
    assert df.columns == ["k"] and df.count() == 4
    # isfuzzy tolerates ONLY unresolved tables
    rows = kql(
        spark, "union isfuzzy=true lu_a, lu_nope | sort by k asc"
    ).collect()
    assert [r["k"] for r in rows] == [1, 2]
    # parenthesized-pipe operand
    rows = kql(
        spark, "union (lu_a | where k == 1), lu_b | sort by k asc"
    ).collect()
    assert [r["k"] for r in rows] == [1, 3, 4]
    # wildcard TABLE patterns expand from the catalog (battery 14):
    # lu_* -> lu_a, lu_b (sorted), plus the explicit lu_b operand
    rows = kql(spark, "union lu_*, lu_b | sort by k asc").collect()
    assert [r["k"] for r in rows] == [1, 2, 3, 3, 4, 4]
    with pytest.raises(ValueError, match="no tables match"):
        kql(spark, "union zz_nothing_*, lu_b")
    # leading search across tables, case-insensitive then sensitive
    spark.sql(
        "SELECT * FROM VALUES ('hello World'),('bye') AS t(txt)"
    ).createOrReplaceTempView("ls_a")
    spark.sql(
        "SELECT * FROM VALUES ('the world is big') AS t(msg)"
    ).createOrReplaceTempView("ls_b")
    rows = kql(
        spark, 'search in (ls_a, ls_b) "world" | sort by source_ asc'
    ).collect()
    assert [(r["source_"], r["txt"], r["msg"]) for r in rows] == [
        ("ls_a", "hello World", None),
        ("ls_b", None, "the world is big"),
    ]
    rows = kql(
        spark, 'search kind=case_sensitive in (ls_a, ls_b) "World"'
    ).collect()
    assert len(rows) == 1 and rows[0]["txt"] == "hello World"


def test_mv_apply_to_typeof(spark):
    """Round-7 (verdict gap): `mv-apply e = col to typeof(t) on (…)` —
    elements try_cast to the declared type before the subpipe; bad
    elements become NULL (ADX leniency) and drop out of predicates."""
    spark.sql(
        "SELECT array('1','2','x','10') AS a"
    ).createOrReplaceTempView("mta_t")
    r = kql(
        spark,
        "mta_t | mv-apply e = a to typeof(long) on"
        " (where e > 1 | summarize s = sum(e), c = count())",
    ).collect()[0]
    assert (r["s"], r["c"]) == (12.0, 2)
    with pytest.raises(ValueError, match="unknown type"):
        kql(spark, "mta_t | mv-apply e = a to typeof(blob) on (where e > 1)")


def test_scan_with_match_id(spark):
    """Round-7 (verdict gap): scan with_match_id= names the per-
    instance match column (the fold's existing counter)."""
    spark.sql(
        "SELECT * FROM VALUES (1,'start'),(2,'stop'),(3,'start'),"
        "(4,'stop') AS t(seq, ev)"
    ).createOrReplaceTempView("smi_t")
    rows = kql(
        spark,
        "smi_t | sort by seq asc | scan with_match_id=mid with ("
        ' step s1: ev == "start"; step s2: ev == "stop")',
    ).collect()
    assert [(r["seq"], r["step"], r["mid"]) for r in rows] == [
        (1, "s1", 0),
        (2, "s2", 0),
        (3, "s1", 1),
        (4, "s2", 1),
    ]


def test_tdigest_family(spark):
    """Round-7 (verdict gap): tdigest/merge_tdigest/percentile_tdigest
    — exact sorted-array percentile states; merged extraction equals
    the percentile over the union; typeof() casts; short arrays clamp
    into range."""
    spark.sql(
        "SELECT * FROM VALUES (1, 'a', 10), (1, 'a', 20), (2, 'a', 30),"
        " (2, 'a', 40), (1, 'b', 5) AS t(b, g, v)"
    ).createOrReplaceTempView("tdg_t")
    rows = kql(
        spark,
        "tdg_t | summarize td = tdigest(v) by g, b"
        " | summarize mtd = merge_tdigest(td) by g"
        " | project g, p50 = percentile_tdigest(mtd, 50),"
        " p100 = percentile_tdigest(mtd, 100, typeof(long)),"
        " p0 = percentile_tdigest(mtd, 0) | sort by g asc",
    ).collect()
    # g='a': sorted union [10,20,30,40] -> p50 = ceil(2)=2nd = 20
    assert [(r["g"], r["p50"], r["p100"], r["p0"]) for r in rows] == [
        ("a", 20, 40, 10),
        ("b", 5, 5, 5),
    ]


def test_series_fit_2lines(spark):
    """Round-7 (verdict gap): series_fit_2lines picks the RSS-minimal
    split; a perfect two-segment series yields rsquare 1 and the true
    changepoint; series shorter than 4 yield NULLs."""
    # y = [0,1,2,3, 10,10,10,10] — exact fit with split at k=4
    spark.sql(
        "SELECT array(0.0, 1.0, 2.0, 3.0, 10.0, 10.0, 10.0, 10.0) AS y"
    ).createOrReplaceTempView("f2_t")
    r = kql(
        spark,
        "f2_t | extend (rsq, sidx, va, rva, lf) = series_fit_2lines(y)"
        " | project rsq, sidx, rva, lfs = series_sum(lf)",
    ).collect()[0]
    assert r["sidx"] == 4
    assert abs(r["rsq"] - 1.0) < 1e-12 and abs(r["rva"]) < 1e-12
    assert abs(r["lfs"] - 46.0) < 1e-9  # 0+1+2+3 + 4*10
    spark.sql("SELECT array(1.0, 2.0, 3.0) AS y").createOrReplaceTempView(
        "f2s_t"
    )
    r = kql(
        spark,
        "f2s_t | extend (rsq, sidx, va, rva, lf) = series_fit_2lines(y)"
        " | project rsq, sidx, rva",
    ).collect()[0]
    assert r["sidx"] is None and r["rsq"] is None and r["rva"] is None


def test_graph_shortest_paths(spark):
    """Round-7 (verdict gap): graph-shortest-paths — min-hop selection
    (shortcut beats 2-hop), bound respected, bad output= and edge refs
    rejected as subset errors (output=all is supported since round 9 —
    see test_graph_shortest_output_all)."""
    q = (
        "datatable(src: string, dst: string)"
        ' ["a","b", "b","c", "c","d", "a","c"]'
        " | make-graph src --> dst"
        " | graph-shortest-paths (s)-[e*1..3]->(t)"
        ' where s == "a" project s, t, pair = strcat(s, t)'
        " | sort by t asc"
    )
    rows = kql(spark, q).collect()
    assert [(r["s"], r["t"], r["pair"]) for r in rows] == [
        ("a", "b", "ab"),
        ("a", "c", "ac"),
        ("a", "d", "ad"),
    ]
    base = (
        'datatable(src: string, dst: string) ["a","b"]'
        " | make-graph src --> dst | graph-shortest-paths"
    )
    with pytest.raises(ValueError, match="output"):
        kql(spark, f"{base} output=bogus (s)-[e*1..2]->(t) project s, t")
    with pytest.raises(ValueError, match="cannot be referenced"):
        kql(spark, f"{base} (s)-[e*1..2]->(t) project s, n = e.w")
    with pytest.raises(ValueError, match="bounds"):
        kql(spark, f"{base} (s)-[e*1..99]->(t) project s, t")


def test_scalar_function_lets(spark):
    """Round-7 (gap sweep): `let f = (x: long) { expr };` applied as
    f(args) in scalar positions — expanded as a textual macro (the
    plan is the inlined expression, no UDF). Multi-param, nested
    calls, use inside later lets; tabular-param and piped bodies stay
    with invoke."""
    spark.sql("SELECT 5 AS k, 3.0 AS v").createOrReplaceTempView("fl_t")
    r = kql(
        spark,
        "let dbl = (x: long) { x * 2 };"
        " let addm = (a: long, b: long) { dbl(a) + b };"
        " fl_t | extend d = dbl(k), m = addm(k, 1) | project d, m",
    ).collect()[0]
    assert (r["d"], r["m"]) == (10, 11)
    # parameter substitution must not capture same-named columns in
    # quoted strings or call sites
    r = kql(
        spark,
        'let f = (k: long) { k + strlen("k") };'
        " fl_t | project d = f(100)",
    ).collect()[0]
    assert r["d"] == 101
    with pytest.raises(ValueError, match="takes 1 argument"):
        kql(spark, "let f = (x: long) { x }; fl_t | project d = f(1, 2)")


def test_dynamic_literals(spark):
    """Round-7 (gap sweep): dynamic() literals in scalar positions —
    arrays (nested too) become array(...), objects become the compact
    JSON string the pack()/bag family uses, scalars pass through."""
    spark.sql("SELECT 1 AS k").createOrReplaceTempView("dy_t")
    r = kql(
        spark,
        "dy_t | extend a = dynamic([1, 2, 3]),"
        " n = dynamic([[1, 2], [3, 4]]),"
        ' o = dynamic({"x": 1, "s": "a,b"}), s = dynamic(7)',
    ).collect()[0]
    assert r["a"] == [1, 2, 3] and r["n"] == [[1, 2], [3, 4]]
    assert r["o"] == '{"x":1,"s":"a,b"}' and r["s"] == 7
    with pytest.raises(ValueError, match="not valid JSON"):
        kql(spark, 'dy_t | extend o = dynamic({"a": })')


def test_dcount_intersect_tolerance(spark, sf_smoke):
    """Round-7 (verdict gap): dcount_intersect estimates the exact
    intersection within HLL tolerance (same 5% envelope the kql_hll
    family is held to); typed-null routing keeps non-qualifying rows
    out of each sketch."""
    from api_to_parquet_spark.lake import load

    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    r = kql(
        spark,
        "events | summarize"
        " h0 = hll(iif(value <= 60, user_id, long(null))),"
        " h1 = hll(iif(value > 30, user_id, long(null)))"
        " | evaluate dcount_intersect(h0, h1)",
    ).collect()[0]
    exact = spark.sql(
        "SELECT count(DISTINCT CASE WHEN value <= 60 THEN user_id END)"
        " AS s0, count(DISTINCT CASE WHEN value <= 60 AND value > 30"
        " THEN user_id END) AS s1 FROM events"
    ).collect()[0]
    assert abs(r["s0"] - exact["s0"]) <= max(2, 0.05 * exact["s0"])
    assert abs(r["s1"] - exact["s1"]) <= max(2, 0.05 * exact["s1"])
    with pytest.raises(ValueError, match="2-3 hll columns"):
        kql(spark, "events | evaluate dcount_intersect(h0)")


def test_rolling_percentile_edges(spark):
    """Round-7: rolling_percentile emits a bin only when its own rows
    exist (no phantom trailing bins), and the window covers exactly
    the last W bins."""
    spark.sql(
        "SELECT * FROM VALUES (0, 10.0), (1, 20.0), (10, 90.0)"
        " AS t(ix, v)"
    ).createOrReplaceTempView("rp_t")
    rows = kql(
        spark,
        "rp_t | evaluate rolling_percentile(v, 100, ix, 5, 2)"
        " | sort by ix asc",
    ).collect()
    # bins present: 0 (rows 10,20) and 10 (row 90); bin 5 has no own
    # rows and must not appear even though bin-0 rows feed it
    assert [(r["ix"], r["percentile_v_100"]) for r in rows] == [
        (0, 20.0),
        (10, 90.0),
    ]


def test_composite_aggregates(spark):
    """Round-7 (gap sweep): summarize items that are expressions OVER
    aggregate calls — one grouped agg, post-agg scalar math; items
    with no aggregate stay loud."""
    spark.sql(
        "SELECT * FROM VALUES (1, 10.0, 'a'), (2, 30.0, 'a'),"
        " (3, 20.0, 'b') AS t(k, v, g)"
    ).createOrReplaceTempView("ca_t")
    rows = kql(
        spark,
        "ca_t | summarize spread = max(v) - min(v),"
        " pct = todouble(100) * countif(v > 15) / count(),"
        " r = round(avg(v), 1) by g | sort by g asc",
    ).collect()
    assert [(r["g"], r["spread"], r["pct"], r["r"]) for r in rows] == [
        ("a", 20.0, 50.0, 20.0),
        ("b", 0.0, 100.0, 20.0),
    ]
    with pytest.raises(ValueError, match="unsupported KQL aggregate"):
        kql(spark, "ca_t | summarize z = v + 1")


def test_sweep2_idioms(spark):
    """Round-7 (gap sweep 2): in ((pipe)) membership, mv-expand limit,
    view lets, datatable dynamic columns, prev/next serialized guard,
    bracket JSON paths."""
    spark.sql(
        "SELECT * FROM VALUES (1, '{\"k\": 5}'), (2, '{\"k\": 9}')"
        " AS t(id, js)"
    ).createOrReplaceTempView("sw_t")
    rows = kql(
        spark,
        "sw_t | where id in ((sw_t | where id == 2 | project id))"
        ' | extend k = tolong(todynamic(js)["k"])'
        " | extend a = pack_array(k, k + 1, k + 2)"
        " | mv-expand a limit 2 | project id, a",
    ).collect()
    assert [(r["id"], r["a"]) for r in rows] == [(2, 9), (2, 10)]
    # view () {} wrapper is a zero-parameter tabular let
    rows = kql(
        spark,
        "let keep = view () { sw_t | where id == 2 };"
        " keep | project id",
    ).collect()
    assert [r["id"] for r in rows] == [2]
    rows = kql(
        spark,
        "datatable(b: bool, d: dynamic)"
        " [true, dynamic([1, 2]), false, dynamic([3])]"
        " | where b | mv-expand d | project d",
    ).collect()
    assert [r["d"] for r in rows] == [1, 2]
    with pytest.raises(ValueError, match="serialized row set"):
        kql(spark, "sw_t | extend p = prev(id)")
    # !in ((pipe)) is the anti form
    rows = kql(
        spark,
        "sw_t | where id !in ((sw_t | where id == 2 | project id))"
        " | project id",
    ).collect()
    assert [r["id"] for r in rows] == [1]


def test_series_decompose_forecast_edges(spark):
    """Round-7: the model fits on the training prefix only (the
    forecast tail is out-of-sample), and a prefix shorter than
    max(2, period) yields NULL."""
    spark.sql(
        "SELECT array(1.0,3.0,3.0,5.0,5.0,7.0,7.0,9.0) AS y"
    ).createOrReplaceTempView("fct_t")
    r = kql(
        spark,
        "fct_t | extend f = series_decompose_forecast(y, 2, 2)"
        " | project l6 = round(f[6], 4), l7 = round(f[7], 4)",
    ).collect()[0]
    # linear+period-2 series: forecast tracks within the fit residual
    assert abs(r["l6"] - 7.0) < 0.5 and abs(r["l7"] - 9.0) < 0.5
    r = kql(
        spark,
        "fct_t | extend f = series_decompose_forecast(y, 7, 2)"
        " | project f",
    ).collect()[0]
    assert r["f"] is None
    with pytest.raises(ValueError, match="integer literals"):
        kql(spark, "fct_t | extend f = series_decompose_forecast(y, 2)")


def test_activity_counts_metrics(spark):
    """Round-7: per-period count/dcount/new_dcount and the cumulative
    aggregated_dcount."""
    spark.sql(
        "SELECT * FROM VALUES"
        " (1, timestamp'2024-01-01 10:00'),"
        " (1, timestamp'2024-01-01 11:00'),"
        " (2, timestamp'2024-01-01 12:00'),"
        " (1, timestamp'2024-01-02 10:00'),"
        " (3, timestamp'2024-01-02 11:00') AS t(id, ts)"
    ).createOrReplaceTempView("acm_t")
    rows = kql(
        spark,
        "acm_t | evaluate activity_counts_metrics(id, ts,"
        " datetime(2024-01-01), datetime(2024-01-03), 1d)"
        " | sort by ts asc",
    ).collect()
    assert [
        (r["count"], r["dcount"], r["new_dcount"], r["aggregated_dcount"])
        for r in rows
    ] == [(3, 2, 2, 2), (2, 2, 1, 3)]


def test_take_any_star_and_typed_itemindex(spark):
    """Round-7 sweep 4: take_any(*) returns one ROW-CONSISTENT record
    (min_by over the shared tuple key — deterministic refinement);
    mv-expand with_itemindex composes with to typeof."""
    spark.sql(
        "SELECT * FROM VALUES (2, 'b', 20.0), (1, 'a', 10.0),"
        " (1, 'z', 99.0) AS t(k, s, v)"
    ).createOrReplaceTempView("tas_t")
    r = kql(spark, "tas_t | summarize take_any(*)").collect()[0]
    assert (r["k"], r["s"], r["v"]) == (1, "a", 10.0)
    rows = kql(
        spark, "tas_t | summarize take_any(s, v) by k | sort by k asc"
    ).collect()
    assert [(r["k"], r["s"], r["v"]) for r in rows] == [
        (1, "a", 10.0),
        (2, "b", 20.0),
    ]
    # round-10 (verdict #9): EXPRESSION arguments — row-consistent via
    # the same shared struct key, auto-named aggN_j
    rows = kql(
        spark,
        "tas_t | summarize take_any(strcat(s, '!'), v * 2) by k"
        " | sort by k asc",
    ).collect()
    assert [(r["k"], r["agg0_0"], r["agg0_1"]) for r in rows] == [
        (1, "a!", 20.0),
        (2, "b!", 40.0),
    ]
    spark.sql(
        "SELECT array('5', 'x', '7') AS a"
    ).createOrReplaceTempView("tix_t")
    rows = kql(
        spark,
        "tix_t | mv-expand with_itemindex=ix a to typeof(long)"
        " | project ix, a",
    ).collect()
    assert [(r["ix"], r["a"]) for r in rows] == [
        (0, 5),
        (1, None),
        (2, 7),
    ]


def test_extend_parse_replace_on_clash(spark):
    """Round-6 fuzz findings: extend with an existing name REPLACES the
    column (ADX contract); parse/parse-kv targets and evaluate python
    typeof(*, x) additions follow the same replace-on-clash rule
    instead of emitting ambiguous duplicates."""
    spark.sql("SELECT 1 AS x, 'a=7' AS kvs").createOrReplaceTempView(
        "rc_t"
    )
    r = kql(spark, "rc_t | extend x = x * 10 | extend x = x + 1") \
        .collect()[0]
    assert r["x"] == 11
    # parse over an existing target column
    r = kql(
        spark,
        'rc_t | extend m = strcat("v=", tostring(x))'
        ' | parse m with "v=" x:long | project x',
    ).collect()[0]
    assert r["x"] == 1
    # parse-kv re-extracting the same key twice analyzes cleanly
    r = kql(
        spark,
        "rc_t | parse-kv kvs as (a:long) with"
        ' (pair_delimiter=";", kv_delimiter="=")'
        " | parse-kv kvs as (a:long) with"
        ' (pair_delimiter=";", kv_delimiter="=")',
    ).collect()[0]
    assert r["a"] == 7
    # python plugin: explicit typeof field overrides the * passthrough
    r = kql(
        spark,
        "rc_t | evaluate python(typeof(*, x:long),"
        " 'result = df.assign(x = df.x + 5)') | project x",
        enable_python=True,
    ).collect()[0]
    assert r["x"] == 6


def test_scan_state_references(spark):
    """Round-6: scan step conditions referencing EARLIER steps' matched
    row (`s2: v > s1.v`) — evaluated inside the same grouped fold;
    forward references are supported since round 10 — see
    test_scan_forward_step_references."""
    spark.sql(
        "SELECT * FROM VALUES"
        " ('a', 1, 'start', 10.0), ('a', 2, 'end', 5.0),"
        " ('a', 3, 'start', 7.0), ('a', 4, 'end', 9.0),"
        " ('b', 5, 'start', 1.0), ('b', 6, 'end', 2.0)"
        " AS t(g, seq, kind, v)"
    ).createOrReplaceTempView("ss_t")
    rows = kql(
        spark,
        "ss_t | sort by seq asc | scan by g with ("
        ' step s1: kind == "start";'
        ' step s2: kind == "end" and v > s1.v)',
    ).collect()
    got = sorted((r["g"], r["seq"], r["step"]) for r in rows)
    # a: start@1 (v=10) -> end@2 (5>10 no) -> end@4 (9>10 no): s2 never
    #    fires for the v=10 start; start@3 can't open (s1 active).
    # Greedy single-instance: the v=10 match stays open, so 'a' emits
    # only the s1 row. b: start@5 (v=1) -> end@6 (2>1 yes).
    assert got == [
        ("a", 1, "s1"),
        ("b", 5, "s1"),
        ("b", 6, "s2"),
    ]
    # forward reference (round-10): s2.v is NULL before step s2's
    # first acceptance, then the last s2-accepted row's value
    rows = kql(
        spark,
        "ss_t | sort by seq asc | scan by g with ("
        " step s1: isnull(s2.v) or v > s2.v;"
        ' step s2: kind == "end")',
    ).collect()
    # a: seq1 opens (s2.v null) -> seq2 'end' accepts s2 (v=5) ->
    #    seq3 v=7 > 5 opens -> seq4 'end' accepts (v=9).
    # b: seq5 opens -> seq6 'end' accepts.
    assert sorted((r["g"], r["seq"], r["step"]) for r in rows) == [
        ("a", 1, "s1"), ("a", 2, "s2"), ("a", 3, "s1"), ("a", 4, "s2"),
        ("b", 5, "s1"), ("b", 6, "s2"),
    ]


def test_scan_declare_accumulators(spark):
    """Round-6: scan declare — per-instance variables assigned on step
    advance, reset when a new match instance opens; assignments
    require a declare clause and must target declared names."""
    spark.sql(
        "SELECT * FROM VALUES"
        " ('u1', 1, 'add', 10.0), ('u1', 2, 'add', 5.0),"
        " ('u1', 3, 'buy', 0.0), ('u1', 4, 'add', 7.0),"
        " ('u1', 5, 'buy', 0.0), ('u2', 6, 'add', 3.0)"
        " AS t(u, seq, ev, amt)"
    ).createOrReplaceTempView("sdcl_t")
    rows = kql(
        spark,
        "sdcl_t | sort by seq asc"
        " | scan by u declare (tot: real = 0.0, nmatch: long = 0)"
        ' with (step s1: ev == "add" => tot = tot + amt,'
        " nmatch = nmatch + 1;"
        ' step s2: ev == "buy" => nmatch = nmatch + 1)',
    ).collect()
    got = sorted(
        (r["u"], r["seq"], r["step"], r["tot"], r["nmatch"])
        for r in rows
    )
    # seq=2 doesn't advance (s1 already matched); instance 2 resets tot
    assert got == [
        ("u1", 1, "s1", 10.0, 1),
        ("u1", 3, "s2", 10.0, 2),
        ("u1", 4, "s1", 7.0, 1),
        ("u1", 5, "s2", 7.0, 2),
        ("u2", 6, "s1", 3.0, 1),
    ]
    with pytest.raises(ValueError, match="declared variable"):
        kql(
            spark,
            "sdcl_t | sort by seq asc | scan by u"
            " declare (x: long = 0)"
            ' with (step s1: ev == "add" => y = 1)',
        )
    with pytest.raises(ValueError, match="declare clause"):
        kql(
            spark,
            "sdcl_t | sort by seq asc | scan by u"
            ' with (step s1: ev == "add" => x = 1)',
        )


def test_evaluate_python_plugin(spark):
    """Round-6: `evaluate python()` over mapInPandas — `df` in,
    `result` out; typeof(*) passthrough + additions, exact typeof
    schema selects/renames, missing `result` and bad typeof fail
    loudly."""
    spark.sql(
        "SELECT * FROM VALUES (1, 10.0), (2, 20.0) AS t(k, v)"
    ).createOrReplaceTempView("py_t")
    # typeof(*, add) passthrough + derived column; two statements
    rows = kql(
        spark,
        "py_t | evaluate python(typeof(*, dbl:real),"
        " 'tmp = df.v * 2; result = df.assign(dbl = tmp)')"
        " | sort by k asc",
        enable_python=True,
    ).collect()
    assert [(r["k"], r["v"], r["dbl"]) for r in rows] == [
        (1, 10.0, 20.0),
        (2, 20.0, 40.0),
    ]
    # exact typeof schema: only the listed columns come back
    rows = kql(
        spark,
        "py_t | evaluate python(typeof(kk:long),"
        " 'result = df.assign(kk = df.k + 100)') | sort by kk asc",
        enable_python=True,
    ).collect()
    assert [r["kk"] for r in rows] == [101, 102]
    # script that never sets `result` fails at execution
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises((Py4JJavaError, PythonException, Exception)):
        kql(
            spark,
            "py_t | evaluate python(typeof(*), 'x = 1')",
            enable_python=True,
        ).collect()
    # unsupported typeof field type is a translate-time subset error
    with pytest.raises(ValueError, match="unsupported"):
        kql(
            spark,
            "py_t | evaluate python(typeof(b:blob), 'result = df')",
            enable_python=True,
        )


def test_evaluate_python_disabled_by_default(spark):
    """Round-7 (advice): the python plugin exec()s query-supplied code,
    so it must be an explicit engine-level opt-in — bare kql() rejects
    it at translate time, matching ADX's default-disabled plugin."""
    spark.sql(
        "SELECT * FROM VALUES (1, 10.0) AS t(k, v)"
    ).createOrReplaceTempView("py_t")
    with pytest.raises(ValueError, match="evaluate python is disabled"):
        kql(
            spark,
            "py_t | evaluate python(typeof(*), 'result = df')",
        )


def test_parse_kind_regex(spark):
    """Round-6: `parse kind=regex` — fragments are verbatim regexes,
    flags=i works, capture-group fragments and U flag are subset
    errors, parse-where filters with the same regex."""
    spark.sql(
        "SELECT * FROM VALUES ('ID=42 Host=WEB-1'), ('garbage')"
        " AS t(line)"
    ).createOrReplaceTempView("pr_t")
    rows = kql(
        spark,
        "pr_t | parse-where kind=regex flags=i line with"
        ' "id=" n:long "\\\\s+HOST=" h:string "$"',
    ).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 42 and rows[0]["h"] == "WEB-1"
    # plain parse (no -where) emits NULLs for non-matching rows
    rows = kql(
        spark,
        'pr_t | parse kind=regex line with "ID=" n:long "\\\\s" ',
    ).collect()
    assert sorted([r["n"] for r in rows], key=lambda x: (x is None, x)) \
        == [42, None]
    # subset errors
    with pytest.raises(ValueError, match="non-capturing"):
        kql_to_sql('t | parse kind=regex line with "(a|b)" x:string')
    with pytest.raises(ValueError, match="i/m/s"):
        kql_to_sql('t | parse kind=regex flags=U line with "a" x:string')
    with pytest.raises(ValueError, match="requires kind=regex"):
        kql_to_sql('t | parse flags=i line with "a" x:string')
    # non-capturing groups in fragments are fine
    sql = kql_to_sql(
        't | parse kind=regex line with "(?:id|ID)=" n:long'
    )
    assert "regexp_extract" in sql


def test_autocluster_ranks_specific_large_segments(spark, sf_smoke):
    """Round-6: `evaluate autocluster()` — ONE-CUBE segments ranked by
    the exact-integer Count*depth equivalent of the w=0.5 score; only
    the default size_weight is in the subset."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | project event_type,"
        ' band = case(value < 50, "low", "high")'
        " | evaluate autocluster()",
    )
    rows = df.collect()
    total = spark.table("events").count()
    assert [r["SegmentId"] for r in rows] == list(range(len(rows)))
    assert all(r["Count"] >= 0.05 * total for r in rows)
    assert not any(
        r["event_type"] is None and r["band"] is None for r in rows
    )
    # rank order is Count * depth descending (the w=0.5 score)
    def score(r):
        depth = (r["event_type"] is not None) + (r["band"] is not None)
        return r["Count"] * depth
    assert [score(r) for r in rows] == sorted(
        (score(r) for r in rows), reverse=True
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan  # ONE cube aggregation
    with pytest.raises(ValueError, match="size_weight"):
        kql(spark, "events | evaluate autocluster(0.9)")


def test_lookup_broadcasts_dimension(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        'events | lookup (datatable(event_type: string, w: real)'
        ' ["purchase", 2.0]) on event_type | render timechart',
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # left join: every event survives; non-matching rows carry NULL w
    assert df.count() == spark.table("events").count()


def test_series_fir_and_moving_avg_values(spark):
    row = kql(
        spark,
        "print y = pack_array(1.0, 2.0, 4.0, 8.0)"
        " | extend ma = series_moving_avg(y, 2),"
        " fc = series_fir(y, pack_array(1, 1, 1), true, true)",
    ).collect()[0]
    assert row["ma"] == [0.5, 1.5, 3.0, 6.0]  # causal, zero-padded edge
    assert row["fc"] == pytest.approx([1.0, 7 / 3, 14 / 3, 4.0])  # centered
    with pytest.raises(ValueError, match="literal"):
        kql_to_sql("t | extend f = series_fir(y, c)")


def test_graph_match_two_hop_joins(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        'datatable(src: string, dst: string, w: long)'
        ' ["a","b",1, "b","c",2, "a","c",3, "c","d",1]'
        " | make-graph src --> dst"
        " | graph-match (x)-[e1]->(y)-[e2]->(z)"
        " where x != z project x, y, z, wsum = e1.w + e2.w",
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == [("a", "b", "c", 3), ("a", "c", "d", 4), ("b", "c", "d", 3)]
    with pytest.raises(ValueError, match="make-graph"):
        kql_to_sql("t | graph-match (a)-[e]->(b) project a")


def test_hll_sketch_merge_and_tolerance(spark, sf_smoke):
    """hll/hll_merge/dcount_hll: the two-level merged estimate equals
    the single-pass estimate (mergeability — the property that makes
    sketch rollups valid), and both land within 5% of exact."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    merged = kql(
        spark,
        "events | summarize h = hll(user_id) by event_type"
        " | summarize m = hll_merge(h) | project users = dcount_hll(m)",
    ).collect()[0][0]
    direct = kql(
        spark,
        "events | summarize h = hll(user_id) | project users = dcount_hll(h)",
    ).collect()[0][0]
    exact = kql(
        spark, "events | summarize d = dcount(user_id)"
    ).collect()[0][0]
    assert merged == direct  # merge-invariance
    assert abs(merged - exact) / exact < 0.05


def test_graph_match_variable_length_reachability(spark):
    df = kql(
        spark,
        'datatable(src: string, dst: string, w: long)'
        ' ["a","b",1, "b","c",2, "c","d",3]'
        " | make-graph src --> dst"
        ' | graph-match (x)-[e*1..3]->(y) where x == "a" project x, y',
    )
    assert sorted(r["y"] for r in df.collect()) == ["b", "c", "d"]
    with pytest.raises(ValueError, match="cannot be referenced"):
        kql_to_sql(
            "t | make-graph s --> d"
            " | graph-match (x)-[e*1..2]->(y) project x, w = e.w"
        )
    with pytest.raises(ValueError, match="bounds"):
        kql_to_sql(
            "t | make-graph s --> d"
            " | graph-match (x)-[e*1..99]->(y) project x, y"
        )


def test_top_nested_with_others_reaggregates(spark, sf_smoke):
    """The Others row re-aggregates the EXCLUDED input rows (correct
    for non-additive aggs) — totals must reconcile with the corpus."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    rows = kql(
        spark,
        'events | top-nested 2 of event_type with others = "Other"'
        " by n = count()",
    ).collect()
    total = spark.table("events").count()
    assert sum(r["n"] for r in rows) == total
    assert {r["event_type"] for r in rows if r["event_type"] == "Other"}


def test_union_isfuzzy_skips_missing_table(spark, sf_smoke):
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    n = kql(
        spark,
        "events | union isfuzzy=true (no_such_table_xyz | take 5) | count",
    ).collect()[0]["Count"]
    assert n == spark.table("events").count()
    with pytest.raises(Exception):
        kql(spark, "events | union (no_such_table_xyz) | count").collect()


def test_pipe_and_comma_inside_string_literals(spark, sf_smoke):
    """A | or , inside a double-quoted literal must not split stages
    or arguments (latent bug found in round 3)."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    n = kql(
        spark, 'events | where event_type == "a|b, c" | count'
    ).collect()[0]["Count"]
    assert n == 0  # no such type — but the pipe must parse and run
    row = kql(spark, 'print s = strcat("x|y", ",", "z")').collect()[0]
    assert row["s"] == "x|y,z"


def test_review_fixes_round3(spark, sf_smoke):
    """Round-3 review findings, pinned: (1) =~ operands are either
    rewritten WHOLE (round-4 ADVICE widened _OPND to one call) or left
    for the SQL parser to reject loudly — never silently corrupted;
    (2) commas/parens inside in~/has_any literals; (5) NULL group keys
    route to Others exactly once; (6) zero-IQR spikes still score."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    sql = kql_to_sql('t | where substring(x, 0, 3) =~ "ABC"')
    assert "lower(substring" in sql and "lower(3)" not in sql
    # a two-level call operand now rewrites WHOLE (round-12: _CALL
    # widened one level so the translator's own tostring emission —
    # a typeof-gated CASE — still matches as one operand)
    sql = kql_to_sql('t | where f(g(h(x))) =~ "ABC"')
    assert "lower(f(g(h(x))))" in sql and "lower(3)" not in sql
    # a deeper multi-token operand still leaks loudly, uncorrupted
    sql = kql_to_sql('t | where f(g(h(k(x)))) =~ "ABC"')
    assert "=~" in sql and "lower(3)" not in sql
    n = kql(
        spark, 'events | where event_type in~ ("VIEW", "a,b") | count'
    ).collect()[0]["Count"]
    direct = kql(
        spark, 'events | where event_type == "view" | count'
    ).collect()[0]["Count"]
    assert n == direct > 0
    spark.sql(
        "SELECT CASE WHEN id % 3 = 0 THEN NULL ELSE concat('g', id % 3)"
        " END AS g FROM range(30)"
    ).createOrReplaceTempView("tn_nulls")
    rows = kql(
        spark,
        'tn_nulls | top-nested 1 of g with others = "Other" by n = count()',
    ).collect()
    assert sum(r["n"] for r in rows) == 30
    assert {r["g"] for r in rows} == {"g1", "Other"}
    scores = kql(
        spark,
        "print y = pack_array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0,"
        " 1.0, 100.0) | extend s = series_outliers(y)",
    ).collect()[0]["s"]
    assert scores[-1] > 0 and None not in scores


def test_sort_nulls_ordering_and_distinct_star(spark):
    spark.sql(
        "SELECT * FROM (VALUES (1, 'a'), (NULL, 'b'), (2, 'a'),"
        " (1, 'a')) t(k, v)"
    ).createOrReplaceTempView("sn")
    rows = kql(
        spark, "sn | sort by k asc nulls first, v asc"
    ).collect()
    assert [r["k"] for r in rows] == [None, 1, 1, 2]
    rows = kql(spark, "sn | sort by k desc nulls last").collect()
    assert [r["k"] for r in rows] == [2, 1, 1, None]
    assert len(kql(spark, "sn | distinct *").collect()) == 3


def test_review_fixes_round4(spark, sf_smoke):
    """Round-4 adversarial review findings, pinned."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    # (1) withsource is an anchored union option: the token inside a
    # right-subpipe string literal stays text
    sql = kql_to_sql(
        'T | union (U | where s == "a withsource=b c")'
    )
    assert "withsource" in sql and "AS b" not in sql
    # (2) column_ifexists inside a join subpipe resolves against the
    # BRANCH schema, not the left pipe's
    spark.sql("SELECT 1 AS k, 'x' AS only_right").createOrReplaceTempView(
        "cie_right"
    )
    spark.sql("SELECT 1 AS k").createOrReplaceTempView("cie_left")
    rows = kql(
        spark,
        "cie_left | join kind=inner (cie_right"
        ' | extend v = column_ifexists("only_right", "dflt")) on k',
    ).collect()
    assert rows[0]["v"] == "x"
    # (3) parse-kv tolerates duplicated keys (first occurrence), never
    # a DUPLICATE_MAP_KEY runtime error
    spark.sql("SELECT 'a=1;a=2;b=x' AS s").createOrReplaceTempView("pkd")
    r = kql(
        spark,
        "pkd | parse-kv s as (a:long, b:string)"
        ' with (pair_delimiter=";", kv_delimiter="=")',
    ).collect()[0]
    assert (r["a"], r["b"]) == (1, "x")
    # (4) broadcast hint targets the ADX-left pipe even for the
    # sides-swapped right kinds
    sql = kql_to_sql(
        "T | join kind=rightsemi hint.strategy=broadcast (U) on k"
    )
    import re as _re

    m = _re.search(r"BROADCAST\((_r\d+)\)", sql)
    assert m, sql
    # (5) isfuzzy dropping the right side still labels the surviving
    # side with the withsource column
    rows = kql(
        spark,
        "events | union withsource=src isfuzzy=true (no_such_tbl)"
        " | distinct src",
    ).collect()
    assert [r["src"] for r in rows] == ["events"]
    # (7) parenthesized predicate operands translate correctly instead
    # of capturing the open paren
    rows = kql(
        spark,
        'events | where (event_type contains "vi") and value >= 0'
        " | count",
    ).collect()
    assert rows[0]["Count"] > 0


def test_review_fixes_round5(spark, sf_smoke):
    """Round-4 ADVICE.md findings, pinned in round 5."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    # (1) _OPND accepts one function-call operand: string predicates on
    # call results are rewritten again instead of leaking KQL into SQL
    rows = kql(
        spark,
        'events | where tostring(event_id) startswith "1" | count',
    ).collect()
    assert rows[0]["Count"] > 0
    rows = kql(
        spark,
        'events | where substring(event_type, 0, 2) =~ "VI" | count',
    ).collect()
    assert rows[0]["Count"] > 0
    # ...including calls whose quoted args contain parens/commas
    rows = kql(
        spark,
        "events | where strcat(event_type, \"(x, y)\") contains \"(x\""
        " | count",
    ).collect()
    assert rows[0]["Count"] > 0
    # (2) nested fork inside a branch must not clobber the outer fork's
    # source entry: every outer branch still resolves the OUTER prefix
    rows = kql(
        spark,
        "events | where event_id < 100"
        " | fork a = (fork x = (count) y = (summarize m = max(event_id)))"
        " b = (count)",
    ).collect()
    by_branch = {r["fork_branch"]: r for r in rows}
    assert by_branch["b"]["Count"] == 100
    assert by_branch["a"]["Count"] in (100, None)
    # (3) pivot/bag_unpack cache ring is per-session (module state keyed
    # by SparkSession, evicted via the owning session)
    from api_to_parquet_spark.queries.kql import _cache_rings

    kql(spark, "events | evaluate pivot(event_type, count())").collect()
    assert spark in _cache_rings and len(_cache_rings[spark]) >= 1
    # (4) innerunique tolerates un-orderable NESTED types (array<map>)
    # and a user column literally named _iu
    spark.sql(
        "SELECT 1 AS k, array(map('a', 1)) AS am, 9 AS _iu"
        " UNION ALL SELECT 1, array(map('b', 2)), 8"
    ).createOrReplaceTempView("iu_left")
    spark.sql("SELECT 1 AS k, 'r' AS rv").createOrReplaceTempView(
        "iu_right"
    )
    rows = kql(spark, "iu_left | join (iu_right) on k").collect()
    assert len(rows) == 1 and rows[0]["rv"] == "r"
    assert "_iu" in rows[0].asDict()  # the user's own _iu survived


def test_timespan_type(spark, sf_smoke):
    """Round-5: timespan surface — literals, totimespan (lenient),
    format_timespan, datetime arithmetic, let-bound timespans."""
    import re
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    # bare literals compare against datetime subtraction; ms + frac
    sql = kql_to_sql("t | where now() - ts > 1h")
    assert "INTERVAL '3600' SECOND" in sql
    assert "INTERVAL '5400' SECOND" in kql_to_sql("t | where d > 1.5h")
    assert "INTERVAL '0.1' SECOND" in kql_to_sql("t | where d > 100ms")
    # a timespan literal inside a string stays text
    assert "'5m'" in kql_to_sql('t | where s == "5m"')
    # totimespan: literal, clock string, garbage -> NULL; let-bound
    r = kql(
        spark,
        "let win = 30m;"
        " print a = totimespan('1.02:03:04') > 1d,"
        " b = isnull(totimespan('garbage')),"
        " c = totimespan('90s') == 1.5m,"
        " d = win < 1h,"
        " e = format_timespan(totimespan('2.05:06:07.25'),"
        " 'd.hh:mm:ss.ff')",
    ).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (True, True, True, True)
    assert r["e"] == "2.05:06:07.25"
    # datetime - datetime flows into both comparison and formatting
    r = kql(
        spark,
        "events | summarize mn = min(ts), mx = max(ts)"
        " | extend dur = mx - mn"
        " | project ok = dur > 1s,"
        " s = format_timespan(dur, 'd.hh:mm:ss')",
    ).collect()[0]
    assert r["ok"] is True and re.match(r"^\d+\.\d{2}:\d{2}:\d{2}$", r["s"])


def test_pack_family(spark):
    """Round-5: pack/bag_pack/pack_all/bag_merge construction surface."""
    r = kql(
        spark,
        'print b = pack("a", 1, "s", "x"),'
        ' bp = bag_pack("only", 7)',
    ).collect()[0]
    assert r["b"] == '{"a":1,"s":"x"}' and r["bp"] == '{"only":7}'
    # bag_merge: FIRST bag wins on conflict; NULL bags tolerated
    spark.sql("SELECT CAST(NULL AS STRING) AS nb").createOrReplaceTempView(
        "nb_t"
    )
    r = kql(
        spark,
        'nb_t | extend m = bag_merge(pack("k", 1, "a", "x"),'
        ' pack("k", 2, "b", "y")),'
        ' n = bag_merge(pack("z", 3), nb)',
    ).collect()[0]
    assert r["m"] == '{"k":"1","a":"x","b":"y"}'
    assert r["n"] == '{"z":"3"}'
    # pack_all covers every pipe column at that point
    spark.sql("SELECT 5 AS ii, 'v' AS ss").createOrReplaceTempView("pa_t")
    r = kql(spark, "pa_t | extend j = pack_all()").collect()[0]
    assert r["j"] == '{"ii":5,"ss":"v"}'
    # expression keys (round-6): string-widened map path — values come
    # out as JSON strings, keys may be computed
    r = kql(
        spark,
        'pa_t | extend b = pack(strcat("k", tostring(ii)), ii * 2)',
    ).collect()[0]
    assert r["b"] == '{"k5":"10"}'
    with pytest.raises(ValueError, match="pairs"):
        kql_to_sql("t | extend b = pack(onlykey)")


def test_advice_fixes_round5(spark):
    """Round-6: pins for the four round-5 ADVICE items.
    (1) bag_merge first-wins on key MEMBERSHIP — an explicit JSON
    null in an earlier bag beats a later value; (2) format_timespan
    renders absolute component values for negative spans; (3)
    totimespan clock literals go through exact Decimal (sub-µs text
    must not hit Spark's parser as scientific notation); (4) 'f'
    fraction digits are exact-microsecond truncation — a .9999995s
    input can never emit a carried '10…' fraction."""
    # (1) explicit-null first-wins
    spark.sql(
        "SELECT '{\"k\": null, \"a\": \"x\"}' AS jb"
    ).createOrReplaceTempView("jb_t")
    r = kql(
        spark,
        'jb_t | extend m = bag_merge(jb, pack("k", 2, "b", "y"))',
    ).collect()[0]
    assert r["m"] == '{"k":null,"a":"x","b":"y"}'
    # (2) negative span from datetime subtraction: absolute components
    r = kql(
        spark,
        "print s = format_timespan(datetime(2024-01-01)"
        " - datetime(2024-01-02 01:30:00.250), 'd.hh:mm:ss.fff')",
    ).collect()[0]
    assert r["s"] == "1.01:30:00.250"
    # (3) sub-microsecond clock fraction parses (Spark truncates to µs)
    sql = kql_to_sql("t | extend d = totimespan('0:0:0.0000001')")
    assert "INTERVAL '0.0000001' SECOND" in sql
    r = kql(
        spark,
        "print z = totimespan('0:0:0.0000001') == 0s,"
        " e = totimespan('1.02:03:04.5') == totimespan('93784500ms')",
    ).collect()[0]
    assert r["z"] is True and r["e"] is True
    # (4) no round-up carry: exact-µs truncation
    r = kql(
        spark,
        "print f = format_timespan(totimespan('0:0:1.9999995'),"
        " 's.ffffff')",
    ).collect()[0]
    assert r["f"] == "1.999999"


def test_advice_fixes_round8(spark, sf_smoke):
    """Round-8: pins for the five round-7 ADVICE items.
    (1) fn-let macro expansion is two-pass — an argument whose text
    matches a LATER parameter name must not be re-substituted;
    (2) _cache_child views created during a translation are pinned
    against ring eviction (a 12-state funnel pushes >_CACHE_KEEP
    views before its final UNION analyzes);
    (3) JSON bracket keys containing dots/spaces emit the $['k']
    bracket JSONPath form (dot form would address a nested path);
    keys Spark's JSONPath cannot express raise loudly;
    (4) dynamic([...]) object elements survive the arg splitter
    (brace-aware _split_top_level);
    (5) a double quote inside a single-quoted literal is content,
    not a delimiter (_strings_to_sql quote-aware scan)."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    # (1) param-name collision: f(b, 10) with params (a, b)
    rows = kql(
        spark,
        "let f = (a: long, b: long) { a + b };"
        " events | extend b = event_id"
        " | extend r = f(b, 10) | project event_id, r | take 5",
    ).collect()
    assert rows and all(r["r"] == r["event_id"] + 10 for r in rows)
    # (2) 12-state funnel: views pinned until the final analysis
    states = ", ".join(
        f"'{s}'"
        for s in ["click", "view"] + [f"ghost{i}" for i in range(10)]
    )
    rows = kql(
        spark,
        "events | evaluate funnel_sequence_completion(user_id, ts,"
        " datetime(2020-01-01), datetime(2030-01-01), 365d,"
        f" event_type, dynamic([{states}]))",
    ).collect()
    assert rows  # pre-fix: TABLE_OR_VIEW_NOT_FOUND on level 1
    # (3) bracket keys with a dot / a space
    r = kql(
        spark,
        "events | take 1"
        " | extend j = '{\"a.b\": 42, \"c d\": \"x\"}'"
        ' | extend v = toint(parse_json(j)["a.b"]),'
        ' w = tostring(parse_json(j)["c d"])'
        " | project v, w",
    ).collect()[0]
    assert r["v"] == 42 and r["w"] == "x"
    with pytest.raises(ValueError, match="JSONPath"):
        kql_to_sql("t | extend v = parse_json(p)[\"a'b\"]")
    # (4) multi-key objects inside a dynamic array
    rows = kql(
        spark,
        "events | take 1"
        ' | extend d = dynamic([{"a":1,"b":2}, {"a":3,"b":4}])'
        " | mv-expand d | extend a = toint(parse_json(d).a)"
        " | project a | sort by a asc",
    ).collect()
    assert [r["a"] for r in rows] == [1, 3]
    # (5) embedded double quote in a single-quoted literal
    r = kql(
        spark,
        "print s = 'say \"hi\"', t = strlen('a\"b')",
    ).collect()[0]
    assert r["s"] == 'say "hi"' and r["t"] == 3


def test_round8_verdict_items(spark, sf_smoke):
    """Round-8 verdict items 4-7 + 10.
    (4) `+` with a string-literal operand is concatenation;
    (5) mv-expand over property BAGS (single-property bags, the ADX
    contract) and over JSON array text, native arrays untouched;
    (6) tabular lets resolve inside toscalar() and in ((pipe)) bodies;
    (7) in~ / !in~ with a tabular operand lower() both sides — and
    the negated forms carry their `!` (extraction lookbehind fix);
    (10) leading `set` statements; query_bin_auto_size resolves
    bin_auto(), which stays a loud error without it."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    # (4)
    r = kql(
        spark,
        "events | take 1 | project s = 'pre-' + event_type + '!',"
        " m = 'n=' + tostring(toint(1) + 2)",
    ).collect()[0]
    assert r["s"].startswith("pre-") and r["s"].endswith("!")
    assert r["m"] == "n=3"
    # (5)
    rows = kql(
        spark,
        'events | take 1 | extend b = pack("x", 1, "y", "two")'
        " | mv-expand b | project b | sort by b asc",
    ).collect()
    assert [r["b"] for r in rows] == ['{"x":"1"}', '{"y":"two"}']
    rows = kql(
        spark,
        "events | take 1 | extend j = '[1, 2]' | mv-expand j"
        " | project j | sort by j asc",
    ).collect()
    assert [r["j"] for r in rows] == ["1", "2"]
    rows = kql(
        spark,
        "events | take 1 | extend a = pack_array(7, 8) | mv-expand a"
        " | project a | sort by a asc",
    ).collect()
    assert [r["a"] for r in rows] == [7, 8]
    # (6)
    rows = kql(
        spark,
        "let big = events | where value > 30 | project user_id;"
        " let thr = toscalar(big | count);"
        " events | where user_id in ((big))"
        " | summarize n = count() | extend t = thr",
    ).collect()
    assert rows[0]["n"] > 0 and rows[0]["t"] > 0
    # (7) in~ + !in~ tabular partition the table exactly
    total = kql(spark, "events | count").collect()[0]["Count"]
    n_ci = kql(
        spark,
        "events | where event_type in~ ((events | take 50"
        " | project toupper(event_type))) | count",
    ).collect()[0]["Count"]
    n_not = kql(
        spark,
        "events | where event_type !in~ ((events | take 50"
        " | project toupper(event_type))) | count",
    ).collect()[0]["Count"]
    assert n_ci > 0 and n_ci + n_not == total
    # plain !in ((pipe)) still carries its negation
    n_in = kql(
        spark,
        "events | where event_type in ((events | take 50"
        " | project event_type)) | count",
    ).collect()[0]["Count"]
    n_nin = kql(
        spark,
        "events | where event_type !in ((events | take 50"
        " | project event_type)) | count",
    ).collect()[0]["Count"]
    assert n_in + n_nin == total
    # (10)
    rows = kql(
        spark,
        "set query_bin_auto_size=1d; set notruncation;"
        " events | summarize n = count() by b = bin_auto(ts)"
        " | sort by b asc | take 2",
    ).collect()
    assert rows and rows[0]["n"] > 0
    with pytest.raises(ValueError, match="query_bin_auto_size"):
        kql_to_sql("events | summarize n = count() by bin_auto(ts)")


def test_stored_dynamic_indexing(spark, sf_smoke):
    """Round-8 verdict #8 (adjusted): `j[i]` where j is a STORED
    dynamic (a string column holding JSON text, or a VARIANT from
    parse_json) is element access via get_json_object — the same
    semantics the parse_json(x)[i] accessor path already has. Native
    array indexing stays Spark-native; ADX's [] is a dynamic operator,
    so char access on true strings stays out of subset (ADX errors
    there too)."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    r = kql(
        spark,
        "events | take 1"
        " | extend j = parse_json('[10, 20, 30]')"
        " | extend v = toint(j[1]), w = toint(j[0]) | project v, w",
    ).collect()[0]
    assert r["v"] == 20 and r["w"] == 10
    # string column holding a JSON array (pack_array -> to_json style)
    r = kql(
        spark,
        "events | take 1 | extend s = '[\"a\", \"b\"]'"
        " | extend v = tostring(s[1]) | project v",
    ).collect()[0]
    assert r["v"] == "b"
    # native array: Spark-native 0-based access, no probe rewrite
    r = kql(
        spark,
        "events | take 1 | extend a = pack_array(5, 6)"
        " | extend v = a[1] | project v",
    ).collect()[0]
    assert r["v"] == 6


def test_parse_user_agent_browser_subset(spark):
    """parse_user_agent (round-8, documented subset): the five major
    families by marker precedence — Edge/Opera UAs also carry
    Chrome/, Chrome and Firefox also carry Safari/ — with
    major/minor versions from the family's own token."""
    cases = [
        (
            "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"
            " AppleWebKit/537.36 (KHTML, like Gecko)"
            " Chrome/120.0.0.0 Safari/537.36",
            ("Chrome", "120", "0"),
        ),
        (
            "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"
            " AppleWebKit/537.36 (KHTML, like Gecko)"
            " Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
            ("Edge", "120", "0"),
        ),
        (
            "Mozilla/5.0 (X11; Linux x86_64; rv:121.0)"
            " Gecko/20100101 Firefox/121.0",
            ("Firefox", "121", "0"),
        ),
        (
            "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)"
            " AppleWebKit/605.1.15 (KHTML, like Gecko)"
            " Version/17.1 Safari/605.1.15",
            ("Safari", "17", "1"),
        ),
        # round-10 bot tier: curl is a family now (was Other)
        ("curl/8.4.0", ("curl", "8", "4")),
        (
            "Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko;"
            " compatible; Googlebot/2.1)"
            " Chrome/119.0.6045.0 Safari/537.36",
            ("Googlebot", "2", "1"),
        ),
        (
            "Mozilla/5.0 AppleWebKit/537.36 HeadlessChrome/119.0.0"
            " Safari/537.36",
            ("HeadlessChrome", "119", "0"),
        ),
        ("python-requests/2.31.0", ("Python Requests", "2", "31")),
        ("someunknownthing/1.0", ("Other", "", "")),
    ]
    for ua, (fam, mj, mn) in cases:
        r = kql(
            spark,
            f"print b = parse_user_agent('{ua}', 'browser')"
            " | extend f = tostring(parse_json(b).Browser.Family),"
            " v = tostring(parse_json(b).Browser.MajorVersion),"
            " w = tostring(parse_json(b).Browser.MinorVersion)",
        ).collect()[0]
        assert (r["f"], r["v"], r["w"]) == (fam, mj, mn), (ua, r)
    with pytest.raises(ValueError, match="subset"):
        kql_to_sql("print b = parse_user_agent('x', 'gibberish')")


def test_parse_user_agent_os_device_tier2(spark):
    """Round-9 (verdict #2): 'os' and 'device' queries plus the
    second browser tier (Samsung Internet / UC Browser / Mobile
    Safari / IE incl. the tokenless Trident rv: form)."""
    ie8 = (
        "Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.1;"
        " Trident/4.0)"
    )
    ie11 = "Mozilla/5.0 (Windows NT 10.0; Trident/7.0; rv:11.0) like Gecko"
    sam = (
        "Mozilla/5.0 (Linux; Android 10; SM-G973F Build/QP1A)"
        " AppleWebKit/537.36 Chrome/87.0.4280 Mobile"
        " SamsungBrowser/14.2"
    )
    uc = (
        "Mozilla/5.0 (Linux; U; Android 9.1.2) AppleWebKit/537"
        " Chrome/57 UCBrowser/13.4.0 Mobile"
    )
    msaf = (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 16_5_1 like Mac OS X)"
        " AppleWebKit/605.1.15 Version/16.5 Mobile/15E148"
        " Safari/604.1"
    )
    macs = (
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)"
        " AppleWebKit/605.1.15 Version/17.1 Safari/605.1.15"
    )
    lin = (
        "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101"
        " Firefox/121.0"
    )
    browser_cases = [
        (sam, ("Samsung Internet", "14", "2")),
        (uc, ("UC Browser", "13", "4")),
        (msaf, ("Mobile Safari", "16", "5")),
        (ie8, ("IE", "8", "0")),
        (ie11, ("IE", "11", "0")),
        (macs, ("Safari", "17", "1")),
    ]
    for ua, (fam, mj, mn) in browser_cases:
        r = kql(
            spark,
            f"print b = parse_user_agent('{ua}', 'browser')"
            " | extend f = tostring(parse_json(b).Browser.Family),"
            " v = tostring(parse_json(b).Browser.MajorVersion),"
            " w = tostring(parse_json(b).Browser.MinorVersion)",
        ).collect()[0]
        assert (r["f"], r["v"], r["w"]) == (fam, mj, mn), (ua, r)
    os_cases = [
        (ie8, ("Windows", "6", "1", "")),
        (ie11, ("Windows", "10", "0", "")),
        (sam, ("Android", "10", "", "")),
        (uc, ("Android", "9", "1", "2")),
        (msaf, ("iOS", "16", "5", "1")),
        (macs, ("Mac OS X", "10", "15", "7")),
        (lin, ("Linux", "", "", "")),
        ("curl/8.4.0", ("Other", "", "", "")),
    ]
    for ua, (fam, mj, mn, pt) in os_cases:
        r = kql(
            spark,
            f"print b = parse_user_agent('{ua}', 'os')"
            " | extend f = tostring(parse_json(b).OperatingSystem.Family),"
            " v = tostring(parse_json(b).OperatingSystem.MajorVersion),"
            " w = tostring(parse_json(b).OperatingSystem.MinorVersion),"
            " p = tostring(parse_json(b).OperatingSystem.Patch)",
        ).collect()[0]
        assert (r["f"], r["v"], r["w"], r["p"]) == (fam, mj, mn, pt), (
            ua,
            r,
        )
    dev_cases = [
        (msaf, ("iPhone", "Apple", "iPhone")),
        (macs, ("Mac", "Apple", "Mac")),
        (sam, ("SM-G973F", "Generic_Android", "SM-G973F")),
        (uc, ("Generic Smartphone", "Generic", "Smartphone")),
        (ie11, ("Other", "", "")),
        (lin, ("Other", "", "")),
    ]
    for ua, (fam, brand, model) in dev_cases:
        r = kql(
            spark,
            f"print b = parse_user_agent('{ua}', 'device')"
            " | extend f = tostring(parse_json(b).Device.Family),"
            " v = tostring(parse_json(b).Device.Brand),"
            " w = tostring(parse_json(b).Device.Model)",
        ).collect()[0]
        assert (r["f"], r["v"], r["w"]) == (fam, brand, model), (ua, r)


def test_plus_concat_string_columns(spark, sf_smoke):
    """Round-8 verdict #4 (schema half): `a + b` over two STRING
    columns is ADX concatenation. Fast path translates + as
    arithmetic; on BINARY_OP_WRONG_TYPE/STRING analysis failure kql()
    retries once with the schema-probing concat rewrite, so queries
    without the idiom never pay a probe. Chains fold left."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    r = kql(
        spark,
        "events | take 1 | extend a = event_type, b = props"
        " | extend c = a + b | project c, full = a + b + event_type",
    ).collect()[0]
    assert r["c"] and r["full"].startswith(r["c"])
    assert r["full"].endswith(r["full"][len(r["c"]) :])
    # numeric + numeric stays arithmetic (no retry, no probe)
    r = kql(
        spark,
        "events | take 1 | extend n = value + value | project n, value",
    ).collect()[0]
    assert r["n"] == r["value"] * 2


def test_beta_cdf_and_gamma_values(spark):
    """Round-8 numeric-special-function batch: beta_cdf (Lentz CF as
    a fixed-depth aggregate fold) against closed forms, gamma against
    exact factorials, loggamma against large-argument values (log-form
    Lanczos cannot overflow)."""
    import math

    r = kql(
        spark,
        "print a = beta_cdf(0.5, 2.0, 2.0),"
        " b = beta_cdf(0.25, 2.0, 1.0),"
        " c = beta_cdf(0.3, 1.0, 1.0),"
        " d = beta_cdf(0.0, 3.0, 4.0), e = beta_cdf(1.0, 3.0, 4.0),"
        " g = gamma(8.0), gn = gamma(-0.5), lg = loggamma(200.5)",
    ).collect()[0]
    assert abs(r["a"] - 0.5) < 1e-12
    assert abs(r["b"] - 0.0625) < 1e-12
    assert abs(r["c"] - 0.3) < 1e-12
    assert r["d"] == 0.0 and r["e"] == 1.0
    assert abs(r["g"] - 5040.0) < 1e-8
    assert abs(r["gn"] - (-2 * math.sqrt(math.pi))) < 1e-9
    assert abs(r["lg"] - math.lgamma(200.5)) < 1e-7


def test_consume_returns_empty_with_schema(spark, sf_smoke):
    """`consume` (round-8): ADX's perf-test sink returns an empty
    result; in a lazy engine the observable contract is the empty
    result carrying the child's schema."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(spark, "events | where value > 5 | consume")
    assert df.count() == 0
    assert "event_id" in df.columns


def test_cache_ring_concurrent_translations(spark, sf_smoke):
    """Round-8 advice #2, concurrency half: two threads translating
    funnel queries simultaneously push more _cache_child views than
    the ring keeps; pinned views (live translations) must survive
    until each thread's final analysis — no TABLE_OR_VIEW_NOT_FOUND."""
    import threading

    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    states = ", ".join(
        f"'{s}'" for s in ["click", "view"] + [f"g{i}" for i in range(5)]
    )
    q = (
        "events | evaluate funnel_sequence_completion(user_id, ts,"
        " datetime(2020-01-01), datetime(2030-01-01), 365d,"
        f" event_type, dynamic([{states}]))"
    )
    errs: list[Exception] = []

    def run() -> None:
        try:
            for _ in range(2):
                assert kql(spark, q).collect()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs[:1]


def test_activity_plugins_dimension_columns(spark, sf_smoke):
    """Round-8: trailing dimension columns on the seven behavioral
    plugins slice the analysis per dim combination. Pin: per-period
    per-dim dcounts sum to >= the undimmed dcount (an id can be
    active in several slices), and the dim column rides the output."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    span = "datetime(2024-01-01), datetime(2024-02-01)"
    cases = [
        f"activity_metrics(user_id, ts, {span}, 7d{{d}})",
        f"new_activity_metrics(user_id, ts, {span}, 7d{{d}})",
        f"activity_counts_metrics(user_id, ts, {span}, 7d{{d}})",
        f"activity_engagement(user_id, ts, {span}, 1d, 7d{{d}})",
        f"session_count(user_id, ts, {span}, 1d, 2d{{d}})",
        f"active_users_count(user_id, ts, {span}, 2d, 1d, 2, 1d{{d}})",
        f"sliding_window_counts(user_id, ts, {span}, 2d, 1d{{d}})",
    ]
    for sig in cases:
        plain = kql(
            spark, "events | evaluate " + sig.format(d="")
        ).collect()
        dim = kql(
            spark, "events | evaluate " + sig.format(d=", event_type")
        ).collect()
        assert dim and "event_type" in dim[0].asDict(), sig
        assert len(dim) >= len(plain), sig


def test_round8_probe_battery_fixes(spark, sf_smoke):
    """Round-8 idiom-probe findings.
    (1) verbatim string literals @"..." / @'...': backslashes are
    content, doubled quotes embed the quote char;
    (2) bare numeric lets substitute unparenthesized so integer-only
    grammar slots (take n) still parse;
    (3) mv-expand kind=array|bag modifier accepted;
    (4) `where * has X` is search-across-all-columns."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    # (1) regex with backslashes + literal comparison
    r = kql(
        spark,
        'events | take 1 | extend xs = extract_all(@"(\\d+)", \'a1b22\')'
        " | extend n = array_length(xs) | project n",
    ).collect()[0]
    assert r["n"] == 2
    n1 = kql(
        spark, 'events | where event_type == @"view" | count'
    ).collect()[0]["Count"]
    n2 = kql(
        spark, 'events | where event_type == "view" | count'
    ).collect()[0]["Count"]
    assert n1 == n2 > 0
    r = kql(spark, "print s = @'it''s \\ raw'").collect()[0]
    assert r["s"] == "it's \\ raw"
    # (2)
    rows = kql(spark, "let n = 7; events | take n").collect()
    assert len(rows) == 7
    # (3)
    rows = kql(
        spark,
        "events | take 1 | extend a = pack_array(1, 2)"
        " | mv-expand kind=array a | project a",
    ).collect()
    assert sorted(r["a"] for r in rows) == [1, 2]
    # (4)
    n_star = kql(
        spark, 'events | where * has "view" | count'
    ).collect()[0]["Count"]
    n_search = kql(spark, 'events | search "view" | count').collect()[
        0
    ]["Count"]
    assert n_star == n_search > 0


def test_round8_probe2_fixes(spark, sf_smoke):
    """Second round-8 probe battery.
    (1) has_any / has_all accept a dynamic([...]) literal list;
    (2) full accessor chains on STORED dynamics (j.a.b[1] on a
    string/variant column) compile to one JSONPath."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    n_dyn = kql(
        spark,
        'events | where event_type has_any (dynamic(["view",'
        ' "click"])) | count',
    ).collect()[0]["Count"]
    n_list = kql(
        spark,
        'events | where event_type has_any ("view", "click") | count',
    ).collect()[0]["Count"]
    assert n_dyn == n_list > 0
    n_all = kql(
        spark,
        'events | where event_type has_all (dynamic(["view"])) | count',
    ).collect()[0]["Count"]
    assert n_all > 0
    r = kql(
        spark,
        "events | take 1"
        " | extend j = parse_json('{\"a\": {\"b\": [1, 2]}}')"
        " | extend v = toint(j.a.b[1]), w = toint(j.a.b[0])"
        " | project v, w",
    ).collect()[0]
    assert r["v"] == 2 and r["w"] == 1


def test_round8_probe4_fixes(spark, sf_smoke):
    """Fourth probe battery (round-8): (1) row_cumsum(v, restart)
    resets the running sum where the restart expression is true (the
    two-layer shape: inner running restart count = group id, outer
    partitioned sum); (2) top-nested accepts expressions (with or
    without alias) in the `of` clause; (3) `top N by col asc nulls
    first` carries the nulls clause."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    rows = kql(
        spark,
        "datatable (k: long, v: long) [1, 10, 2, 20, 3, 30, 4, 40]"
        " | sort by k asc"
        " | extend rc = row_cumsum(v, k == 3) | sort by k asc",
    ).collect()
    assert [r["rc"] for r in rows] == [10, 30, 30, 70]
    rows = kql(
        spark,
        "events | top-nested 2 of b3 = user_id % 3 by s = sum(value),"
        " top-nested 1 of event_type by c = count()",
    ).collect()
    assert rows and "b3" in rows[0].asDict()
    rows = kql(
        spark,
        "events | extend v = iff(value > 50, value, real(null))"
        " | top 3 by v asc nulls first | project v",
    ).collect()
    assert [r["v"] for r in rows] == [None, None, None]


def test_round9_advice_fixes(spark, sf_smoke):
    """Round-9 advice items.
    (1) `where * has X` is WHOLE-TERM across columns (word-boundary
    RLIKE, matching the scalar has operator), not substring —
    `* contains` stays substring;
    (2) mv-expand of a NON-JSON plain string emits the value as ONE
    row (ADX scalar-dynamic contract) instead of silently dropping
    every row via a NULL array parse;
    (3) negative bare-numeric lets keep their parens (`x-n` with
    n = -5 must not emit the SQL line comment `--`);
    (4) base64_decode_toarray('') is [] (was [NULL, NULL] via the
    descending sequence(1, 0));
    (5) `somefn(x) + 'a'` is a loud subset error (call operands in
    `+` concat are out of subset — use strcat), while literal and
    column operands still fold."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    # (1) substring would match 'view'; whole-term must not
    n_has = kql(spark, 'events | where * has "vie" | count').collect()[
        0
    ]["Count"]
    n_contains = kql(
        spark, 'events | where * contains "vie" | count'
    ).collect()[0]["Count"]
    n_whole = kql(
        spark, 'events | where * has "view" | count'
    ).collect()[0]["Count"]
    assert n_has == 0 and n_contains > 0 and n_whole > 0
    # (2) plain string column: one row per input row, value preserved
    rows = kql(
        spark,
        'events | take 3 | extend d = strcat("plain-", event_type)'
        " | mv-expand d | project d",
    ).collect()
    assert len(rows) == 3 and all(r["d"].startswith("plain-") for r in rows)
    # JSON arrays/bags keep their expansion semantics
    rows = kql(
        spark, "events | take 1 | extend j = '[1, 2]' | mv-expand j"
    ).collect()
    assert sorted(r["j"] for r in rows) == ["1", "2"]
    # (3) negative let after a minus with no space
    rows = kql(
        spark,
        "let n = -5; events | take 1 | extend x = 10-n | project x",
    ).collect()
    assert rows[0]["x"] == 15
    # positive lets still substitute bare for integer-literal slots
    assert len(kql(spark, "let k = 4; events | take k").collect()) == 4
    # (4)
    r = kql(
        spark,
        "print a = base64_decode_toarray(''),"
        " b = base64_decode_toarray('AQI=')",
    ).collect()[0]
    assert list(r["a"]) == [] and list(r["b"]) == [1, 2]
    # (5) NON-STRING call operands in + concat stay out of subset
    # (provably-string calls like tostring() fold since round 9 —
    # see test_plus_concat_string_call_operands)
    with pytest.raises(Exception):
        kql(
            spark,
            "events | take 1 | extend s = strlen(event_type) + 'a'"
            " | project s",
        ).collect()
    r = kql(spark, "print s = 'a' + 'b' + 'c'").collect()[0]
    assert r["s"] == "abc"


def test_output_schema_skips_discovery(spark, sf_smoke, monkeypatch):
    """Declared output schemas translate with ZERO data-dependent
    discovery work: neither the bag_unpack key scan nor the pivot
    distinct-values scan runs (both go through _cache_child first, so
    poisoning it proves the declared path never touches data). The
    implicit forms still discover."""
    import api_to_parquet_spark.queries.kql as kqlmod

    load(spark, sf_smoke, "events").createOrReplaceTempView("events")

    def _boom(*a, **k):
        raise AssertionError("discovery scan ran on the declared path")

    monkeypatch.setattr(kqlmod, "_cache_child", _boom)
    df = kql(
        spark,
        "events | evaluate bag_unpack(props,"
        " OutputSchema=(event_id: long, k: long))",
    )
    assert df.columns == ["event_id", "k"]
    assert df.count() > 0
    df = kql(
        spark,
        "events | project user_id, event_type,"
        " cents = tolong(value * 100)"
        " | evaluate pivot(event_type, sum(cents))"
        " : (user_id: long, view: long, click: long)",
    )
    assert df.columns == ["user_id", "view", "click"]
    # trailing-schema spelling on bag_unpack too
    df = kql(
        spark,
        "events | evaluate bag_unpack(props) : (event_id: long,"
        " k: string) | take 3",
    )
    assert df.columns == ["event_id", "k"] and len(df.collect()) == 3
    monkeypatch.undo()
    # implicit forms unchanged (discovery still works)
    df = kql(spark, "events | evaluate bag_unpack(props)")
    assert "k" in df.columns


def test_scan_self_step_references(spark):
    """Round-9 (verdict #4): scan SELF-step state references — the
    condition/assignment reads the last row the SAME step accepted
    (previous match instance in the one-row-per-step subset), with
    NULL (columns) / the declared initial (vars) before any instance
    reached the step. Forward references stay loud."""
    # ADX's documented cumulative-sum idiom, exact expected output
    rows = kql(
        spark,
        "range x from 1 to 5 step 1 | sort by x asc"
        " | scan declare (cumulative_x: long = 0) with ("
        " step s1: true => cumulative_x = x + s1.cumulative_x;)"
        " | project x, cumulative_x",
    ).collect()
    assert [(r["x"], r["cumulative_x"]) for r in rows] == [
        (1, 1), (2, 3), (3, 6), (4, 10), (5, 15),
    ]
    # self-ref condition: record highs
    spark.sql(
        "SELECT * FROM VALUES (1, 5.0D), (2, 3.0D), (3, 7.0D),"
        " (4, 6.0D), (5, 9.0D) AS t(i, v)"
    ).createOrReplaceTempView("scan_self_t")
    rows = kql(
        spark,
        "scan_self_t | sort by i asc | scan with ("
        " step s1: isnull(s1.v) or v > s1.v;) | project i",
    ).collect()
    assert [r["i"] for r in rows] == [1, 3, 5]
    # self-ref on a non-first step of a multi-step scan
    rows = kql(
        spark,
        "scan_self_t | sort by i asc | scan with ("
        " step s1: v < 6.0;"
        " step s2: isnull(s2.v) or v > s2.v;) | project i, step",
    ).collect()
    assert [(r["i"], r["step"]) for r in rows] == [(1, "s1"), (2, "s2")]
    # forward references work too since round 10 (condition and
    # assignment RHS) — see test_scan_forward_step_references


def test_plus_mixed_string_numeric_rejected(spark, sf_smoke):
    """Round-9 (verdict #6): `+` over one string and one numeric
    COLUMN is rejected loudly on the retry path (ADX rejects the
    expression at semantic analysis; Spark would silently coerce).
    String+string still concatenates via the retry."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    with pytest.raises(ValueError, match="mixed string/numeric"):
        kql(
            spark,
            "events | take 1 | extend s = event_type + event_type"
            " + value | project s",
        ).collect()
    r = kql(
        spark,
        "events | take 1 | extend s = event_type + event_type"
        " | project s",
    ).collect()[0]
    assert r["s"] and len(r["s"]) % 2 == 0


def test_graph_shortest_output_all(spark):
    """Round-9 (verdict #9): output=all emits EVERY shortest path per
    (source, target) — the diamond a->{b,c}->d yields (a,d) twice;
    output=any keeps exactly one."""
    pipe = (
        "datatable(src: string, dst: string)"
        ' ["a","b", "b","d", "a","c", "c","d", "d","e"]'
        " | make-graph src --> dst"
        " | graph-shortest-paths {} (s)-[e*1..4]->(t)"
        ' where s == "a" project s, t'
    )
    rows = kql(spark, pipe.format("output=all")).collect()
    pairs = sorted((r["s"], r["t"]) for r in rows)
    assert pairs == [
        ("a", "b"), ("a", "c"), ("a", "d"), ("a", "d"),
        ("a", "e"), ("a", "e"),
    ]
    rows = kql(spark, pipe.format("output=any")).collect()
    assert sorted((r["s"], r["t"]) for r in rows) == [
        ("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
    ]
    with pytest.raises(ValueError, match="output"):
        kql_to_sql(pipe.format("output=bogus"))


def test_plus_concat_string_call_operands(spark, sf_smoke):
    """Round-9: calls to PROVABLY-STRING functions participate in `+`
    concatenation (wrapped in an identity concat() so the balanced
    fold machinery applies) — including deeply nested arguments.
    Non-string calls stay out of the fold."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")

    def one(expr):
        return kql(
            spark,
            f"events | take 1 | extend r = {expr} | project r",
        ).collect()[0]["r"]

    assert one("'pre-' + tostring(event_id)") == "pre-0"
    assert one("tostring(event_id) + '-' + toupper(event_type)")[1] == "-"
    # nested call args (two paren levels) — the round-9 fuzz class
    r = one("'a' + tostring(round(value * 100)) + 'z'")
    assert r.startswith("a") and r.endswith("z")
    assert one("substring(event_type, 0, 2) + tostring(user_id)")
    assert one("strcat('x', event_type) + '!'").endswith("!")
    # long mixed chain: literals, columns, calls
    r = one(
        "'a' + event_type + '-' + event_type + 'z'"
        " + tostring(strlen(event_type))"
    )
    assert r.startswith("a") and r[-1].isdigit()
    # non-string call operands do NOT fold (strlen returns long);
    # ANSI arithmetic then fails loudly at runtime
    with pytest.raises(Exception):
        one("strlen(event_type) + 'a'")


def test_timespan_division_expression_divisors(spark):
    """Round-9: division by PROVABLY-timespan expressions (totimespan,
    make_timespan, timespan literals on either side) yields the ADX
    real ratio; round-10 (verdict #4): INTERVAL-TYPED COLUMN divisors
    resolve via the lazy retry-path schema probe (the fast path fails
    analysis with the interval DATATYPE_MISMATCH, ONE retry probes
    the stage child and emits the epoch-anchored seconds ratio)."""
    r = kql(
        spark,
        "print a = totimespan('2h') / totimespan('30m'),"
        " b = 1d / make_timespan(0, 30, 0),"
        " c = 2h / 30m",
    ).collect()[0]
    assert (r["a"], r["b"], r["c"]) == (4.0, 48.0, 4.0)
    spark.sql(
        "SELECT * FROM VALUES"
        " (1, TIMESTAMP'2024-01-01 00:00:00',"
        " TIMESTAMP'2024-01-01 06:00:00')"
        " AS t(i, t1, t2)"
    ).createOrReplaceTempView("tsdiv_t")
    r = kql(
        spark,
        "tsdiv_t | extend dur = t2 - t1"
        " | extend q = (t2 - t1 + 6h) / dur, h = dur / 1h,"
        " q2 = dur / dur | project i, q, h, q2",
    ).collect()[0]
    assert (r["q"], r["h"], r["q2"]) == (2.0, 6.0, 1.0)


def test_materialize_evaluates_once(spark, sf_smoke):
    """Round-9: materialize() with a session evaluates the let pipe
    ONCE (localCheckpoint snapshot) — every reference scans the
    materialized rows (ExistingRDD), not a re-derived subtree. The
    ADX evaluate-once contract and the scale-correct shape for an
    expensive let feeding several consumers."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "let m = materialize(events"
        " | summarize c = count() by event_type);"
        " m | join kind=inner (m | project event_type, c2 = c)"
        " on event_type | project event_type, c, c2",
    )
    rows = df.collect()
    assert rows and all(r["c"] == r["c2"] for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both references read the snapshot; the events scan happened at
    # translate time, not in this plan
    assert "ExistingRDD" in plan
    assert "events" not in plan.lower() or "FileScan" not in plan


def test_join_collision_suffix(spark, sf_smoke):
    """Round-9: right-side join columns colliding with left names gain
    ADX's 1 suffix and are referenceable downstream; non-colliding
    names pass through unsuffixed; genuine unknown columns stay
    loud."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(
        spark,
        "events | take 10 | join kind=inner (events | take 20)"
        " on user_id | project event_id, event_id1, value1",
    )
    assert df.columns == ["event_id", "event_id1", "value1"]
    assert df.count() > 0
    # qualified keys: both kept, collisions suffixed
    df = kql(
        spark,
        "events | take 5 | join kind=inner (events | take 9"
        " | project eid = event_id, ts, value)"
        " on $left.event_id == $right.eid"
        " | project event_id, eid, ts1, value1",
    )
    assert df.count() == 5
    with pytest.raises(Exception):
        kql(
            spark,
            "events | take 5 | join kind=inner (events | take 9)"
            " on user_id | project nope_zz",
        )


def test_bag_unpack_output_column_prefix(spark, sf_smoke):
    """Round-9: bag_unpack OutputColumnPrefix prefixes the discovered
    column names; combining it with OutputSchema is a loud error
    (declared names are final)."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    df = kql(spark, "events | evaluate bag_unpack(props, 'p_') | take 2")
    assert "p_k" in df.columns and "props" not in df.columns
    with pytest.raises(ValueError, match="FINAL"):
        kql_to_sql(
            "events | evaluate bag_unpack(props, 'p_',"
            " OutputSchema=(p_k: long))"
        )


def test_make_series_partial_bounds(spark, sf_smoke):
    """Round-9: from-only and to-only make-series derive the missing
    bound from the data (respecting the explicit bound's window); an
    earlier explicit `to` truncates the axis."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")

    def series(clause):
        return {
            r["user_id"]: (list(r["n"]), [str(x) for x in r["ts"]])
            for r in kql(
                spark,
                "events | make-series n = count() default=0.0"
                f" on ts{clause} step 1d by user_id",
            ).collect()
        }

    import datetime as _dt

    mn, mx = spark.sql(
        "SELECT date_trunc('DAY', min(ts)), max(ts) FROM events"
    ).collect()[0]
    to = mx + _dt.timedelta(microseconds=1)
    full = series(
        f" from datetime({mn.strftime('%Y-%m-%d')})"
        f" to datetime({to.strftime('%Y-%m-%d %H:%M:%S.%f')})"
    )
    assert series(f" from datetime({mn.strftime('%Y-%m-%d')})") == full
    assert (
        series(f" to datetime({to.strftime('%Y-%m-%d %H:%M:%S.%f')})")
        == full
    )
    half = series(" to datetime(2024-01-04)")
    assert all(len(v[0]) == 3 for v in half.values())


def test_unicode_codepoints_to_string_full_unicode(spark):
    """Codepoints >= 256 must roundtrip (round-9 advice: char() wraps
    mod 256); invalid codepoints return '' (the ADX contract)."""
    row = kql(
        spark,
        "print bmp = unicode_codepoints_to_string("
        "dynamic([72, 105, 960])),"
        " astral = unicode_codepoints_to_string("
        "dynamic([72, 105, 128512])),"
        " rt = unicode_codepoints_to_string("
        'unicode_codepoints_from_string("Hiπ")),'
        " bad = unicode_codepoints_to_string(dynamic([72, -1])),"
        " surr = unicode_codepoints_to_string(dynamic([55296])),"
        " big = unicode_codepoints_to_string(dynamic([1114112]))",
    ).collect()[0]
    assert row["bmp"] == "Hiπ"
    assert row["astral"] == "Hi\U0001f600"
    assert row["rt"] == "Hiπ"
    assert row["bad"] == "" and row["surr"] == "" and row["big"] == ""


def test_base64_encode_fromarray_negative_bytes(spark):
    """Negative elements encode as their two's-complement byte via
    pmod (round-9 advice: signed % + left-lpad truncation silently
    encoded the wrong byte)."""
    import base64

    row = kql(
        spark,
        "print b = base64_encode_fromarray(dynamic([-2, 72, 255]))",
    ).collect()[0]
    assert row["b"] == base64.b64encode(bytes([254, 72, 255])).decode()


def test_pivot_declared_schema_rejects_undeclared_child_cols(spark, sf_smoke):
    """Round-9 advice: the declared-schema pivot previously emitted
    SELECT * PIVOT, so child columns absent from the declaration
    leaked into the implicit group-by — 4 columns and a finer grain
    than the declared contract. ADX rejects a mismatched declared
    evaluate schema; so do we, loudly."""
    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    with pytest.raises(ValueError, match="omits pass-through"):
        kql(
            spark,
            "events | project user_id, event_id, event_type,"
            " cents = tolong(value * 100)"
            " | evaluate pivot(event_type, sum(cents))"
            " : (user_id: long, view: long, click: long)",
        )
    # declaring the column (or consuming it) keeps the path working
    df = kql(
        spark,
        "events | project user_id, event_type,"
        " cents = tolong(value * 100)"
        " | evaluate pivot(event_type, sum(cents))"
        " : (user_id: long, view: long, click: long)",
    )
    assert df.columns == ["user_id", "view", "click"]


def test_scan_forward_step_references(spark):
    """Round-10 (verdict #3): scan FORWARD state references — a step's
    condition or assignment RHS reads a LATER step's state: the last
    row that step accepted (the previous match instance in this
    subset), NULL / the declared initial until the referenced step
    first accepts — ADX's defined forward-state behavior."""
    spark.sql(
        "SELECT * FROM VALUES (1,5.0),(2,6.0),(3,6.0),(4,7.0),"
        "(5,9.0),(6,9.0) AS t(i, v)"
    ).createOrReplaceTempView("scan_fw_t")
    rows = kql(
        spark,
        "scan_fw_t | sort by i asc | scan with ("
        " step s1: isnull(s2.v) or v != s2.v;"
        " step s2: true;) | project i, step",
    ).collect()
    # i=1 opens (s2.v null); i=2 accepts s2 (v=6); i=3 v==6 skipped;
    # i=4 v=7 opens; i=5 accepts s2 (v=9); i=6 v==9 skipped.
    assert sorted((r["i"], r["step"]) for r in rows) == [
        (1, "s1"), (2, "s2"), (4, "s1"), (5, "s2"),
    ]
    # assignment RHS forward ref: carry the previous instance's s2 row
    rows = kql(
        spark,
        "scan_fw_t | sort by i asc"
        " | scan declare (a: real = -1.0) with ("
        " step s1: true => a = iff(isnull(s2.v), -1.0, s2.v);"
        " step s2: true;) | project i, step, a",
    ).collect()
    assert sorted((r["i"], r["step"], r["a"]) for r in rows) == [
        (1, "s1", -1.0), (2, "s2", -1.0), (3, "s1", 6.0),
        (4, "s2", 6.0), (5, "s1", 7.0), (6, "s2", 7.0),
    ]


def test_graph_match_multi_variable_length_hops(spark):
    """Round-10 (verdict #8): TWO bounded variable-length hops in one
    graph-match pattern — branch set is the Cartesian product of the
    hop ranges; per-path multiplicity survives the UNION ALL (the
    (a,b,d) pair is reachable both as 1+2 and via the direct edge)."""
    rows = kql(
        spark,
        "datatable(src: string, dst: string)"
        ' ["a","b", "b","c", "a","c", "c","d", "b","d"]'
        " | make-graph src --> dst"
        " | graph-match (x)-[v1*1..2]->(y)-[v2*1..2]->(z)"
        " project x, y, z"
        " | summarize m = count() by x, y, z"
        " | sort by x asc, y asc, z asc",
    ).collect()
    assert [(r["x"], r["y"], r["z"], r["m"]) for r in rows] == [
        ("a", "b", "c", 1),
        ("a", "b", "d", 2),
        ("a", "c", "d", 2),
        ("b", "c", "d", 1),
    ]
    # bounds guard: the product of branch counts stays bounded
    with pytest.raises(ValueError, match="64"):
        kql_to_sql(
            "datatable(src: string, dst: string) [\"a\",\"b\"]"
            " | make-graph src --> dst"
            " | graph-match (x)-[v1*1..8]->(y)-[v2*1..8]->(z)"
            "-[v3*1..8]->(w) project x, w"
        )


def test_plus_string_call_and_column_folds_on_retry(spark):
    """Round-9 advice: a whitelisted string call across `+` from a
    plain string COLUMN (tostring(x) + strcol) folds to concat on the
    schema-probed retry; the same call against a NUMERIC column
    raises the mixed-operand error when the retry fires."""
    spark.sql(
        "SELECT 'ab' AS s, 5.0 AS v, 3 AS n"
    ).createOrReplaceTempView("pc_t")
    r = kql(
        spark, "pc_t | extend q = tostring(n) + s | project q"
    ).collect()[0]
    assert r["q"] == "3ab"
    r = kql(
        spark, "pc_t | extend q = s + tostring(n) + s | project q"
    ).collect()[0]
    assert r["q"] == "ab3ab"
    with pytest.raises(ValueError, match="mixed string/numeric"):
        kql(
            spark,
            "pc_t | extend a = s + s, q = tostring(n) + v"
            " | project q",
        ).collect()


def test_plus_mixed_guard_at_probe_sites(spark):
    """Round-10 (verdict #10): when an expression's stage schema is
    already probed for another reason (here: a stored-dynamic
    accessor), a bare string + numeric column pair in the SAME
    expression raises the ADX-parity error instead of running ANSI
    arithmetic."""
    spark.sql(
        "SELECT 'ab' AS s, 5.0 AS v, '{\"k\": 1}' AS j"
    ).createOrReplaceTempView("pg_t")
    with pytest.raises(ValueError, match="mixed string/numeric"):
        kql(
            spark,
            "pg_t | extend bad = strcat(tostring(j.k), s + v)"
            " | project bad",
        ).collect()


# --- one string-literal rule ----------------------------------------
# ADX reads '…' / "…" with backslash escapes and @'…' / @"…" verbatim
# with doubled quotes. Each query below is valid ADX whose literal holds
# a quote, a separator or a bracket; the same query written without the
# escape (`"a'(b"` for `'a\'(b'`) returns the same rows.

_LIT_PROBES = [
    (r"T | extend y = strcat('it\'s (', x) | project y",
     [("it's (a'(b",), ("it's (x1",)]),
    (r"T | extend a = 'it\'s, ok', b = 1 | project a, b",
     [("it's, ok", 1), ("it's, ok", 1)]),
    (r"T | where x == 'a\'(b' | count", [(1,)]),
    (r'T | where s == @"C:\" | count', [(1,)]),
    (r"T | where s in ('it\'s, ok', 'zz') | count", [(1,)]),
    (r'T | where x == "a\'(b" | count', [(1,)]),
    (r"T | summarize n = countif(x == 'a\' by (b') by s | count", [(2,)]),
    (r"T | extend y = substring('a\')b', 1, 2) | project y",
     [("')",), ("')",)]),
    (r"T | extend y = toscalar(T | where x == 'a\'(b' | count)"
     r" | project y", [(1,), (1,)]),
    ("let p = 'a;b'; T | where s == p | count", [(0,)]),
    ("T | top-nested 1 of s with others = @'z' by count()",
     [("C:\\", 1), ("z", 1)]),
    ("T | parse s with @'it''s' rest | project rest", [("",), (", ok",)]),
]


@pytest.fixture
def lit_t(spark):
    spark.createDataFrame(
        [("x1", "it's, ok"), ("a'(b", "C:\\")], "x string, s string"
    ).createOrReplaceTempView("T")


@pytest.mark.parametrize("text,rows", _LIT_PROBES)
def test_escaped_and_verbatim_literals_translate(spark, lit_t, text, rows):
    got = sorted(tuple(r) for r in kql(spark, text).collect())
    assert got == rows


def test_let_value_is_not_a_substitution_template(spark, lit_t):
    """A let value's backslashes reach the SQL as written: `'x\\1'`
    stays that literal instead of losing a backslash to re.sub."""
    sql = kql_to_sql(r"let p = 'x\\1'; T | where s == p", spark)
    assert r"'x\\1'" in sql


@pytest.mark.parametrize(
    "lit,value",
    [
        (r"'a\'b'", "a'b"),
        (r'"a\"b"', 'a"b'),
        (r'"a\'b"', "a'b"),
        (r'@"C:\"', "C:\\"),
        ("@'it''s'", "it's"),
        ("'it''s'", "it's"),  # the SQL side's doubled quote
    ],
)
def test_literal_forms_share_one_rule(spark, lit, value):
    from api_to_parquet_spark.queries.kql import (
        _balanced_end, _split_by, _split_top_level, _strings_to_sql,
        _strip_line_comments,
    )

    assert _split_top_level(f"{lit}, ({lit})") == [lit, f"({lit})"]
    assert _split_top_level(f"{lit} | x", "|") == [lit, "x"]
    assert _split_by(f"f({lit}) by k") == [f"f({lit}) ", " k"]
    assert _balanced_end(f"({lit}) )", 0) == len(lit) + 1
    assert _strip_line_comments(f"{lit} // c") == lit
    sql = _strings_to_sql(lit)
    assert spark.sql(f"SELECT {sql} AS v").collect()[0]["v"] == value


def test_unterminated_literal_runs_to_the_end():
    from api_to_parquet_spark.queries.kql import (
        _balanced_end, _split_top_level, _strip_line_comments,
    )

    assert _split_top_level("'abc, d) | e") == ["'abc, d) | e"]
    assert _balanced_end("('abc)", 0) is None
    assert _strip_line_comments("'abc // d") == "'abc // d"


def test_fork_branch_literal_with_escaped_quote():
    from api_to_parquet_spark.queries.kql import _fork_branches

    assert _fork_branches(
        r"a = (where x == 'a\'(b') b = (where x == 'x1')"
    ) == [("a", r"where x == 'a\'(b'"), ("b", "where x == 'x1'")]


@pytest.mark.parametrize(
    "verbatim,plain,fragment",
    [
        ("T | top-nested 1 of s with others = @'z' by count()",
         "T | top-nested 1 of s with others = 'z' by count()",
         "UNION ALL (SELECT 'z' AS s,"),
        ('T | top-nested 1 of s with others = @"z" by count()',
         'T | top-nested 1 of s with others = "z" by count()',
         "UNION ALL (SELECT 'z' AS s,"),
        ("T | top-nested 1 of s WITH OTHERS = @'it''s' by count()",
         "T | top-nested 1 of s with others = \"it's\" by count()",
         "UNION ALL (SELECT 'it''s' AS s,"),
        (r"T | parse s with @'C:\' rest",
         r"T | parse s with 'C:\\' rest",
         r"regexp_extract(s, '^C:\\\\(.*)', 1) AS rest"),
        ("T | parse s with @'it''s' rest",
         r"T | parse s with 'it\'s' rest",
         "regexp_extract(s, '^it''s(.*)', 1) AS rest"),
    ],
)
def test_verbatim_others_label_and_parse_fragment(verbatim, plain, fragment):
    """The top-nested `with others` label and parse's string fragments
    take every literal form: a verbatim one translates as its plain
    spelling does."""
    sql = kql_to_sql(verbatim)
    assert sql == kql_to_sql(plain)
    assert fragment in sql


def test_unterminated_parse_fragment_is_refused():
    with pytest.raises(ValueError, match="unrecognized fragment"):
        kql_to_sql("T | parse s with @'C:\\ rest")


def test_kql_keeps_one_literal_definition():
    """Guard: kql.py lexes string literals in one place. No character
    loop tracks quotes, no second literal regex sits beside `_LITERAL`,
    and no literal span list is built outside `_LitSpans`."""
    import ast
    import inspect
    import re

    from api_to_parquet_spark.queries import kql as kql_mod

    src = inspect.getsource(kql_mod)
    for loop in (
        r"\bin_str\s*=\s*not\s+in_str",
        r"\bquote\s*=\s*ch\b",
        r"\bch\s*==\s*quote\b",
        r"\bquote\s*==\s*ch\b",
        r"\bverbatim\s*=\s*i\s*>",
    ):
        assert not re.search(loop, src), f"quote-tracking loop: {loop}"

    # the definition is read only by the helpers built on it
    helpers = {"_lexer", "_LitSpans", "_blank_literals",
               "_sub_outside_strings", "_strings_to_sql"}
    span_elt = re.compile(r"\(?(\w+)\.start\(\), \1\.end\(\)\)?|\w+\.span\(\)")
    strays: list[str] = []

    def walk(node: ast.AST, scope: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                inner = scope or child.name
            if (
                isinstance(child, ast.Name)
                and child.id in ("_LITERAL", "_LITERAL_SRC")
                and isinstance(child.ctx, ast.Load)
                and scope not in helpers
                # _LITERAL = re.compile(_LITERAL_SRC, …)
                and not (scope is None and child.id == "_LITERAL_SRC")
            ):
                strays.append(f"line {child.lineno}: {child.id}")
            if (
                isinstance(child, (ast.ListComp, ast.GeneratorExp))
                and span_elt.fullmatch(ast.unparse(child.elt))
                and scope != "_LitSpans"
            ):
                strays.append(f"line {child.lineno}: span list")
            walk(child, inner)

    walk(ast.parse(src), None)
    assert not strays, strays

    probe = r"""f('a\'b', "c\"d")"""
    for name, val in vars(kql_mod).items():
        if isinstance(val, re.Pattern) and kql_mod._LITERAL_SRC not in (
            val.pattern
        ):
            found = [m.group() for m in val.finditer(probe)]
            assert not {r"'a\'b'", r'"c\"d"'} <= set(found), (
                f"{name} is a second literal regex"
            )


def test_spaced_calls_run_like_unspaced(spark):
    """A space before `(` changes nothing, for renamed functions
    (toupper, iff, hash_md5) as for builders (strcat)."""
    import hashlib

    spark.createDataFrame([("ab", 2)], ["s", "x"]).createOrReplaceTempView(
        "spaced_calls"
    )
    row = kql(
        spark,
        "spaced_calls | extend u = toupper (s), i = iff (x > 1, 'a', 'b'),"
        " h = hash_md5 (s), c = strcat (s, 'a') | project u, i, h, c",
    ).collect()[0]
    assert row.asDict() == {
        "u": "AB", "i": "a", "h": hashlib.md5(b"ab").hexdigest(), "c": "aba",
    }


def test_every_call_translates_the_same_with_a_space_before_its_parenthesis():
    from api_to_parquet_spark.queries.kql import _CALLS

    def sql_or_error(text: str) -> str:
        try:
            return kql_to_sql(text)
        except Exception as ex:  # noqa: BLE001 — compared, not handled
            return f"!{type(ex).__name__}: {ex}"

    for name in _CALLS:
        for args in ("s", "s, 1", ""):
            want = sql_or_error(f"T | extend u = {name}({args})")
            got = sql_or_error(f"T | extend u = {name} ({args})")
            assert got == want, (name, args)
    renames = [n for n, entry in _CALLS.items() if isinstance(entry, str)]
    assert len(renames) >= 35
    for name in renames:
        sql = kql_to_sql(f"T | extend u = {name} (s)")
        assert f"{_CALLS[name]}(s)" in sql, (name, sql)


def test_translate_calls_one_innermost_first_pass():
    from api_to_parquet_spark.queries.kql import _expr, _translate_calls

    table = {
        "f": lambda a: f"g({', '.join(a)})",
        "g": lambda a: "rescanned",
        "h": "sql_h",
        "keep": lambda a: None,
    }
    # a builder's SQL is never scanned again, not even for a table name
    assert _translate_calls("f(1)", table) == "g(1)"
    # innermost first: the builder receives translated arguments
    assert _translate_calls("f(h( x ), 2)", table) == "g(sql_h( x ), 2)"
    assert _translate_calls("h (x)", table) == "sql_h(x)"
    assert _translate_calls("keep ( h(x) )", table) == "keep( sql_h(x) )"
    # literals are text; other names and unclosed calls stay as written
    assert _translate_calls("f('h(x)') + other(h(y))", table) == (
        "g('h(x)') + other(sql_h(y))"
    )
    assert _translate_calls("h(x) + (f(1)", table) == "sql_h(x) + (g(1)"
    assert _translate_calls("h(x))", table) == "sql_h(x))"
    # names are whole words and case-sensitive
    assert _translate_calls("xh(1) + H(1) + a.h(1)", table) == (
        "xh(1) + H(1) + a.sql_h(1)"
    )

    # nested same-name calls both translate
    packed = _expr('pack("a", pack("b", 1))')
    assert "pack(" not in packed and packed.count("named_struct(") == 2
    # a call inside a string literal stays text
    assert _expr("tolower('case(a,b,c)')") == "lower('case(a,b,c)')"
    # bin's SQL floor is not read again by the KQL floor builder,
    # which takes (value, roundTo) only
    assert _expr("bin(x, 10)").count("floor(") == 1
    with pytest.raises(ValueError, match="floor needs"):
        _expr("floor(x)")
    # KQL function names are case-sensitive
    assert _expr("TOUPPER(s)") == "TOUPPER(s)"
    assert _expr("toupper(s)") == "upper(s)"


def test_kql_keeps_one_call_table():
    """Guard: every KQL function call translates through `_CALLS` and
    `_translate_calls`. No per-name rewrite pass (`_rewrite_fn`, a
    `\\bname\\(` rename), and no table builder nested in `_expr`; the
    per-request schema-probe callbacks there take a regex match."""
    import ast
    import inspect
    import re

    from api_to_parquet_spark.queries import kql as kql_mod

    src = inspect.getsource(kql_mod)
    assert "_rewrite_fn" not in src
    assert not re.search(
        r"_sub_outside_strings\(\s*r[\"']\\b\w+\\\([\"'],\s*[\"']\w+\(", src
    ), "a one-name rename pass"
    expr = next(
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "_expr"
    )
    for node in ast.walk(expr):
        if isinstance(node, (ast.FunctionDef, ast.Lambda)) and node is not expr:
            for arg in node.args.args:
                ann = arg.annotation and ast.unparse(arg.annotation)
                assert ann != "list[str]" and arg.arg != "a", (
                    f"builder defined inside _expr at line {node.lineno}"
                )
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "_translate_calls"
        ):
            assert ast.unparse(node.args[1]) == "_CALLS"
