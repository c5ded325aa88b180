"""Property-based invariants (hypothesis) over the ingest pipeline and
state merge — the reference ships no property tests (SURVEY.md §5); these
pin the engine's core contracts under arbitrary inputs:

- row conservation: valid envelopes contribute exactly len(content) rows
- zero-fill totality: normalized points never contain NULLs
- state monotonicity: max_timestamp never decreases under any batch order
- normalization idempotence: normalizing twice changes nothing

One SparkSession, few examples (Spark actions are ~100ms each), no
deadline — hypothesis still explores the envelope space far beyond the
hand-written fixtures.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from api_to_parquet_spark import ingest
from api_to_parquet_spark.schemas import POINT_COLUMNS

point_st = st.fixed_dictionaries(
    {},
    optional={
        "Timestamp": st.integers(min_value=0, max_value=2**53),
        "TimeOffsetHours": st.integers(min_value=-24, max_value=24),
        "PointId": st.text(max_size=8),
        "Sequence": st.integers(min_value=0, max_value=99),
        "Project": st.text(max_size=8),
        "Value": st.one_of(
            st.integers(min_value=-(10**6), max_value=10**6),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        ),
        "Res": st.text(max_size=4),
        "Quality": st.integers(min_value=0, max_value=99),
    },
)

envelope_st = st.fixed_dictionaries(
    {
        "content": st.lists(point_st, min_size=1, max_size=5),
        "id": st.text(min_size=1, max_size=8),
        "source": st.text(max_size=8),
        "timeGenerated": st.integers(min_value=1, max_value=2**53),
        "file": st.just("s/2024/01/02/03/x.parquet"),
    }
)

SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
FEW = settings(
    max_examples=4, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


@given(envs=st.lists(envelope_st, min_size=1, max_size=3))
@SETTINGS
def test_row_conservation_and_zero_fill(spark, envs):
    raw = spark.createDataFrame(
        [(json.dumps(e),) for e in envs], ["value"]
    )
    points, rejected = ingest.ingest_batch(ingest.parse_envelopes(raw))
    rows = points.collect()
    assert rejected.count() == 0
    assert len(rows) == sum(len(e["content"]) for e in envs)
    for r in rows:
        for c in POINT_COLUMNS:
            assert r[c] is not None, f"NULL leaked into {c}"


@given(
    maxima=st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=2, max_size=3
    )
)
@FEW
def test_state_max_monotone_under_any_order(spark, tmp_path_factory, maxima):
    from api_to_parquet_spark import state

    state_path = str(tmp_path_factory.mktemp("state") / "ctl")
    running = None
    for i, mx in enumerate(maxima):
        env = json.dumps(
            {
                "content": [{"Timestamp": mx, "Value": 1.0}],
                "id": f"b{i}",
                "source": "s",
                "timeGenerated": i + 1,
                "file": "s/2024/01/02/03/x.parquet",
            }
        )
        keys = ingest.batch_keys(
            ingest.parse_envelopes(spark.createDataFrame([(env,)], ["value"]))
        )
        state.update_state(spark, state_path, keys)
        running = mx if running is None else max(running, mx)
        st_row = state.read_state(spark, state_path)
        assert st_row["max_timestamp"] == running
        assert st_row["last_time_generated"] == i + 1


@given(env=envelope_st)
@SETTINGS
def test_normalize_idempotent(spark, env):
    raw = spark.createDataFrame([(json.dumps(env),)], ["value"])
    valid, _ = ingest.validate_envelopes(ingest.parse_envelopes(raw))
    once = ingest.normalize_points(ingest.explode_points(valid))
    twice = ingest.normalize_points(once)
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


# --- KQL translator totality: any pipe the mini-grammar can produce must
# translate to SQL that Spark ANALYZES successfully (schema resolution —
# no job runs). The grammar tracks the column state across stages so the
# generated pipes are semantically valid KQL.

_KQL_NUM = ("value", "user_id", "event_id")
_KQL_STR = ("event_type",)


def _kql_stage_st(cols: tuple[str, ...]):
    num = [c for c in _KQL_NUM if c in cols]
    str_ = [c for c in _KQL_STR if c in cols]
    opts = []
    if num:
        opts.append(
            st.tuples(
                st.just("where"),
                st.sampled_from(num),
                st.sampled_from([">", "<", ">=", "<=", "==", "!="]),
                st.integers(0, 100),
            ).map(lambda t: (f"where {t[1]} {t[2]} {t[3]}", cols))
        )
        opts.append(
            st.sampled_from(num).map(
                lambda c: (f"extend x2 = {c} * 2", (*cols, "x2"))
            )
        )
        opts.append(
            st.sampled_from(num).map(
                lambda c: (f"top 5 by {c}", cols)
            )
        )
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"summarize n=count(), s=sum({c}) by "
                    + (str_[0] if str_ else num[0]),
                    ((str_[0] if str_ else num[0]), "n", "s"),
                )
            )
        )
    if str_:
        opts.append(
            st.just(("where event_type contains \"vi\"", cols))
        )
        opts.append(
            st.integers(1, 5).map(
                lambda n: (
                    f"top-hitters {n} of {str_[0]}",
                    (str_[0], f"approximate_count_{str_[0]}"),
                )
            )
        )
        opts.append(
            st.just(
                (
                    f"summarize s=make_set({str_[0]}) by "
                    + (num[0] if num else str_[0]),
                    ((num[0] if num else str_[0]), "s"),
                )
            )
        )
    if "ts" in cols and num:
        by = f" by {str_[0]}" if str_ else ""
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"make-series m=avg({c}) default=0.0 on ts"
                    " from datetime(2024-01-01) to datetime(2024-01-03)"
                    f" step 1d{by}",
                    ((str_[0],) if str_ else ()) + ("ts", "m"),
                )
            )
        )
    if num:
        opts.append(
            st.tuples(
                st.sampled_from(num), st.integers(1, 3)
            ).map(
                lambda t: (
                    f"partition by {t[0]} (top {t[1]} by "
                    f"{num[0]})",
                    cols,
                )
            )
        )
        # round-8: bracket-quoted column names — assignment LHS +
        # reference in where/summarize; the spaced column stays in
        # the schema but is NOT added to cols (later stages reference
        # columns bare, which bracket-named columns cannot be)
        opts.append(
            st.tuples(st.sampled_from(num), st.integers(0, 99)).map(
                lambda t: (
                    f"extend ['b q{t[1]}'] = {t[0]} * 2"
                    f" | where ['b q{t[1]}'] >= 0"
                    f" | extend bq8 = ['b q{t[1]}'] + 1",
                    (*cols, "bq8"),
                )
            )
        )
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"summarize ['s um'] = sum({c}),"
                    f" bqn = count() by ['g k'] = {c} % 3"
                    " | sort by ['s um'] desc"
                    " | project bqn, ['s um'], ['g k']",
                    ("bqn",),
                )
            )
        )
        # round-8: `+` string concat (literal-operand subset) — must
        # coexist with arithmetic + in the same expression
        if str_:
            opts.append(
                st.tuples(
                    st.sampled_from(str_), st.sampled_from(num)
                ).map(
                    lambda t: (
                        f"extend c8 = 'p-' + {t[0]} + '-q',"
                        f" a8 = {t[1]} + 1",
                        (*cols, "c8", "a8"),
                    )
                )
            )
        # round-9 (round-8 verdict #7): bracket-quoted JOIN key on
        # BOTH sides — the mangler must produce the same _bq_ name
        # for the on-clause, the left extend, and the right project
        opts.append(
            st.tuples(
                st.sampled_from(num), st.integers(0, 999)
            ).map(
                lambda t, _cols=cols: (
                    f"extend ['j k{t[1]}'] = {t[0]} % 5"
                    " | join kind=inner (events"
                    f" | project ['j k{t[1]}'] = user_id % 5,"
                    f" jv9_{t[1]} = value)"
                    f" on ['j k{t[1]}']"
                    " | project "
                    + ", ".join(
                        c for c in _cols if c != f"jv9_{t[1]}"
                    )
                    + f", jv9_{t[1]}",
                    (
                        *(c for c in cols if c != f"jv9_{t[1]}"),
                        f"jv9_{t[1]}",
                    ),
                )
            )
        )
        # round-9: a bracket name colliding with the mangler's own
        # _bq_<hex> prefix must roundtrip (mangle is reversible)
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"extend ['_bq_00ff'] = {c} + 1"
                    " | where ['_bq_00ff'] > 0"
                    " | project-away ['_bq_00ff']",
                    cols,
                )
            )
        )
        # round-9: mv-expand over a property BAG built by pack() —
        # exercises the lazy string-column schema probe + the
        # single-property-bag expansion
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"extend bag9 = pack('a', {c}, 'b', {c} + 1)"
                    " | mv-expand bag9"
                    " | extend bl9 = strlen(bag9)"
                    " | project-away bag9",
                    (*cols, "bl9"),
                )
            )
        )
        # round-9: `+` concat CHAINS (multi-literal fold) coexisting
        # with arithmetic + in the same extend
        if str_:
            opts.append(
                st.tuples(
                    st.sampled_from(str_), st.sampled_from(num)
                ).map(
                    lambda t: (
                        f"extend ch9 = 'a' + {t[0]} + '-' + {t[0]}"
                        f" + 'z', ar9 = {t[1]} + 2 + 3",
                        (*cols, "ch9", "ar9"),
                    )
                )
            )
        # round-8: percentilew argument grammar (col, weight, p)
        opts.append(
            st.tuples(
                st.sampled_from(num),
                st.sampled_from(num),
                st.sampled_from([25, 50, 75, 90]),
            ).map(
                lambda t: (
                    f"summarize pw8 = percentilew({t[0]},"
                    f" {t[1]} + 1, {t[2]})",
                    ("pw8",),
                )
            )
        )
        # round-8: ipv4_lookup argument grammar over a datatable
        # lookup dim (3- and 4-arg forms; IPs synthesized map-side)
        opts.append(
            st.tuples(
                st.sampled_from(num), st.booleans()
            ).map(
                lambda t: (
                    f"extend ip8 = strcat('10.', tostring({t[0]}"
                    " % 200), '.0.1')"
                    " | evaluate ipv4_lookup("
                    "(datatable (net: string, tag: string)"
                    " ['10.0.0.0/8', 'a', '192.168.0.0/16', 'b']),"
                    " ip8, net"
                    + (", return_unmatched = true" if t[1] else "")
                    + ") | count",
                    ("Count",),
                )
            )
        )
    if "ts" in cols:
        # round-8: timespan / timespan-literal division
        opts.append(
            st.tuples(
                st.integers(1, 12), st.sampled_from(["h", "m", "d"])
            ).map(
                lambda t: (
                    "extend td8 = (ts - datetime(2024-01-01))"
                    f" / {t[0]}{t[1]}",
                    (*cols, "td8"),
                )
            )
        )
    if "ts" in cols and "user_id" in cols:
        # round-8 (round-6 verdict item 10): the activity-analytics
        # plugin argument grammars — every shape must parse and
        # analyze for any window/period/count draw
        _win = st.integers(1, 3)
        _dim = st.sampled_from(["", ", event_type"])
        opts.append(
            st.tuples(
                st.sampled_from(
                    [
                        "activity_metrics",
                        "new_activity_metrics",
                        "activity_counts_metrics",
                    ]
                ),
                _win,
                _dim,
            ).map(
                lambda t: (
                    f"evaluate {t[0]}(user_id, ts,"
                    " datetime(2024-01-01), datetime(2024-02-01),"
                    f" {t[1]}d{t[2]}) | count",
                    ("Count",),
                )
            )
        )
        opts.append(
            st.tuples(_win, _dim).map(
                lambda t: (
                    "evaluate session_count(user_id, ts,"
                    " datetime(2024-01-01), datetime(2024-02-01),"
                    f" 1d, {t[0]}d{t[1]}) | count",
                    ("Count",),
                )
            )
        )
        opts.append(
            st.tuples(
                st.integers(1, 4),
                st.integers(1, 3),
                st.booleans(),
                _dim,
            ).map(
                lambda t: (
                    "evaluate active_users_count(user_id, ts,"
                    " datetime(2024-01-01), datetime(2024-02-01),"
                    f" {t[0]}d, 1d, {t[1]}"
                    # dims require the bin argument present
                    + (", 1d" if (t[2] or t[3]) else "")
                    + t[3]
                    + ") | count",
                    ("Count",),
                )
            )
        )
    if str_:
        opts.append(
            st.sampled_from(["vi", "PUR", "x"]).map(
                lambda term: (f'search "{term}"', cols)
            )
        )
        # literals carrying operator/pipe/function-call text: the
        # translator must treat them as opaque strings (round-3
        # review findings pinned as fuzz shapes)
        opts.append(
            st.sampled_from(
                ["a|b", "x==y", "case(a,b,c)", "p, q", "n =~ m"]
            ).map(
                lambda lit: (
                    f'where {str_[0]} != "{lit}"',
                    cols,
                )
            )
        )
    if str_:
        # round-4 fuzz shapes: predicate-list literals carrying operator
        # text (has_any operand safety), a quoted ` by ` inside a
        # summarize aggregate argument, and basket/facet over the
        # string columns in scope
        opts.append(
            st.sampled_from(
                ['"vi", "q has_any (x)"', '"a)b", "c|d"']
            ).map(
                lambda terms: (
                    f"where {str_[0]} has_any ({terms})",
                    cols,
                )
            )
        )
        opts.append(
            st.just(
                (
                    f'summarize n = countif({str_[0]} == "a by b")'
                    f" by {str_[0]}",
                    (str_[0], "n"),
                )
            )
        )
        opts.append(
            st.just(
                (
                    "evaluate basket(0.3)",
                    ("SegmentId", *str_, "Count", "Percent"),
                )
            )
        )
        opts.append(
            st.lists(
                st.sampled_from(str_), min_size=1, unique=True
            ).map(
                lambda ks: (
                    "facet by " + ", ".join(ks),
                    ("facet_column", "value", "count_"),
                )
            )
        )
        # round-6 fuzz shapes: reduce by, autocluster, the python
        # plugin, and parse kind=regex (regex fragments must survive
        # arbitrary surrounding stages)
        opts.append(
            st.just(
                (
                    f"reduce by {str_[0]}",
                    ("Pattern", "Count", "Representative"),
                )
            )
        )
        opts.append(
            st.just(
                (
                    "evaluate autocluster()",
                    ("SegmentId", *str_, "Count", "Percent"),
                )
            )
        )
        opts.append(
            st.integers(1, 9).map(
                lambda k: (
                    "evaluate python(typeof(*, py1:long),"
                    f" 'result = df.assign(py1 = {k})')",
                    (*cols, "py1"),
                )
            )
        )
        opts.append(
            st.just(
                (
                    f'extend rmsg = strcat("k=", {str_[0]})'
                    " | parse kind=regex rmsg with"
                    ' "k=" rk:string "$"',
                    (*cols, "rmsg", "rk"),
                )
            )
        )
        # rows_near over a fresh sort (two-stage fragment, round-6)
        if num:
            opts.append(
                st.sampled_from(num).map(
                    lambda c: (
                        f"sort by {c} asc"
                        f" | evaluate rows_near({c} > 50, 2)",
                        cols,
                    )
                )
            )
        # parse-kv over a constructed kv string (two-stage fragment)
        opts.append(
            st.just(
                (
                    f'extend kvs = strcat("a=", {str_[0]})'
                    " | parse-kv kvs as (a:string, zz:long)"
                    ' with (pair_delimiter=";", kv_delimiter="=")',
                    (*cols, "kvs", "a", "zz"),
                )
            )
        )
    if len(cols) >= 2:
        # graph-match over the current pipe as an edge table
        c1, c2 = sorted(cols)[0], sorted(cols)[1]
        opts.append(
            st.just(
                (
                    f"make-graph {c1} --> {c2}"
                    " | graph-match (a)-[e1]->(b) project x = a, y = b",
                    ("x", "y"),
                )
            )
        )
        # fork: labeled union of two branches over the same prefix
        opts.append(
            st.tuples(st.integers(1, 5), st.integers(1, 5)).map(
                lambda t: (
                    f"fork fa = (take {t[0]}) fb = (take {t[1]})",
                    ("fork_branch", *cols),
                )
            )
        )
    if "user_id" in cols and "jx" not in cols:
        # default-kind join = innerunique (left key dedup) — must
        # analyze against any left schema carrying user_id
        opts.append(
            st.just(
                (
                    "join (events | project user_id,"
                    " jx = value * 3) on user_id",
                    (*cols, "jx"),
                )
            )
        )
    if "m" in cols:  # make-series output array column
        opts.append(st.just(("extend so = series_outliers(m)", (*cols, "so"))))
        opts.append(
            st.just(
                (
                    "extend (rq, sl, va, rv, ic, lf) = series_fit_line(m)",
                    (*cols, "rq", "sl", "va", "rv", "ic", "lf"),
                )
            )
        )
        # round-7: the changepoint sibling
        opts.append(
            st.just(
                (
                    "extend (rq2, si2, va2, rv2, lf2)"
                    " = series_fit_2lines(m)",
                    (*cols, "rq2", "si2", "va2", "rv2", "lf2"),
                )
            )
        )
        # round-8: series_iir recursive filter over the series column
        opts.append(
            st.tuples(
                st.floats(0.1, 0.9), st.floats(-0.9, 0.9)
            ).map(
                lambda t: (
                    f"extend yi8 = series_iir(m, dynamic([{t[0]:.3f}]),"
                    f" dynamic([1.0, {t[1]:.3f}]))",
                    (*cols, "yi8"),
                )
            )
        )
    if num:
        # round-7 fuzz shapes: 2-arg hash must reduce modulo (never
        # hash the modulus), geo scalars are plain map-side exprs,
        # tdigest summarize + percentile_tdigest extraction, mv-apply
        # with the typed element clause, scan with_match_id over a
        # fresh sort
        opts.append(
            st.tuples(st.sampled_from(num), st.integers(2, 50)).map(
                lambda t: (
                    f"extend hz = hash({t[0]}, {t[1]})"
                    f" | where hz >= 0 and hz < {t[1]}",
                    (*cols, "hz"),
                )
            )
        )
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"extend gd = geo_distance_2points({c} % 180 - 90,"
                    f" {c} % 80 - 40, todouble(10), todouble(20)),"
                    f" gc = geo_point_in_circle({c} % 180 - 90,"
                    f" {c} % 80 - 40, todouble(10), todouble(20),"
                    " 1000000)",
                    (*cols, "gd", "gc"),
                )
            )
        )
        opts.append(
            st.tuples(
                st.sampled_from(num), st.integers(1, 99)
            ).map(
                lambda t: (
                    f"summarize tdg = tdigest({t[0]})"
                    f" | project ptd = percentile_tdigest(tdg, {t[1]})",
                    ("ptd",),
                )
            )
        )
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"extend arr7 = pack_array({c}, {c} + 1)"
                    " | mv-apply _el = arr7 to typeof(long) on"
                    " (where _el >= 0 | summarize s7 = sum(_el))",
                    (*cols, "arr7", "s7"),
                )
            )
        )
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"sort by {c} asc"
                    " | scan with_match_id=m7 with"
                    f" (step s1: {c} >= 0)",
                    ("step", "m7", *cols),
                )
            )
        )
        # round-7: composite aggregate expressions and tabular IN.
        # count()/dcount-based arithmetic stays analyzable whatever
        # the column type (a facet stage can turn `value` into a
        # STRING, where max(v) - min(v) fails analysis)
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    "summarize cr = todouble(100)"
                    f" * countif({c} > 5) / count(),"
                    f" sp = count() - dcount({c})",
                    ("cr", "sp"),
                )
            )
        )
        opts.append(
            st.sampled_from(num).map(
                lambda c: (
                    f"where {c} in ((events | take 9"
                    f" | project event_id))",
                    cols,
                )
            )
        )
    opts.append(st.integers(1, 50).map(lambda n: (f"take {n}", cols)))
    opts.append(
        st.lists(
            st.sampled_from(sorted(cols)), min_size=1,
            max_size=len(cols), unique=True,
        ).map(lambda ks: ("distinct " + ", ".join(ks), tuple(ks)))
    )
    keep = st.lists(
        st.sampled_from(sorted(cols)), min_size=1, max_size=len(cols), unique=True
    )
    opts.append(keep.map(lambda ks: ("project " + ", ".join(ks), tuple(ks))))
    return st.one_of(opts)


@st.composite
def _kql_pipe_st(draw):
    # round-6: the pipe head is sometimes an externaldata ad-hoc
    # table over the same events parquet (the __SFDIR__ placeholder is
    # substituted with the fixture path by the test) — no ts column,
    # declared schema matches by name
    head_kind = draw(st.integers(0, 4))
    if head_kind == 0:
        head = "events"
        cols = ("event_id", "ts", "user_id", "event_type", "value")
    elif head_kind == 1:
        head = (
            "externaldata (event_id: long, user_id: long,"
            " event_type: string, value: real)"
            ' ["__SFDIR__/events.parquet"] with (format="parquet")'
        )
        cols = ("event_id", "user_id", "event_type", "value")
    elif head_kind == 2:
        # round-7: leading-union entry form (self-union keeps schema)
        head = "union events, (events | take 5)"
        cols = ("event_id", "ts", "user_id", "event_type", "value")
    elif head_kind == 3:
        # round-7: leading-search entry form (adds the source_ label)
        term = draw(st.sampled_from(["vi", "PUR", "zz"]))
        head = f'search in (events) "{term}"'
        cols = (
            "source_", "event_id", "ts", "user_id", "event_type",
            "value",
        )
    else:
        # round-8: find argument grammar — withsource label, multi
        # operand (table + pipe), predicate, project clause
        thr = draw(st.integers(0, 100))
        head = (
            "find withsource=src8 in (events, (events | take 20))"
            f" where event_id >= {thr}"
            " project event_id, user_id, event_type, value"
        )
        cols = ("src8", "event_id", "user_id", "event_type", "value")
    stages = []
    for _ in range(draw(st.integers(0, 4))):
        stage, cols = draw(_kql_stage_st(cols))
        stages.append(stage)
    # round-9 (round-8 verdict #7): leading `set` statements +
    # bin_auto — the set prefix must survive any stage mix, and
    # bin_auto must pick up query_bin_auto_size
    set_prefix = ""
    if "ts" in cols and draw(st.booleans()):
        set_prefix = (
            "set notruncation; set query_bin_auto_size ="
            f" {draw(st.integers(1, 3))}d; "
        )
        stages.append("summarize n9 = count() by b9 = bin_auto(ts)")
    elif draw(st.booleans()):
        stages.append("count")
    pipe = " | ".join([head, *stages])
    # round-6: sometimes run the whole pipe through a function let +
    # invoke (the tabular-function application path)
    if draw(st.booleans()):
        pipe = (
            "let _fz = (source:(*)) { source | take 7 }; "
            + pipe
            + " | invoke _fz()"
        )
    return set_prefix + pipe


@FEW
@given(pipe=_kql_pipe_st())
def test_kql_translation_always_analyzes(spark, sf_smoke, pipe):
    from api_to_parquet_spark.lake import load
    from api_to_parquet_spark.queries.kql import kql

    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    pipe = pipe.replace("__SFDIR__", str(sf_smoke))
    # enable_python: the fuzz deck includes the python-plugin shape,
    # which is opt-in since round 7 (the service never sets this)
    df = kql(spark, pipe, enable_python=True)
    assert df.columns, pipe


def test_array_agg_short_arrays_yield_null_not_ansi_error(spark, tmp_path):
    """A user with fewer than 3 events must produce NULL v3 (the DuckDB
    oracle's vals[3] semantics), not ARRAY_INDEX_OUT_OF_BOUNDS under
    Spark 4's ANSI mode — the testdata happens to guarantee >= 3 events
    per user, so this guards the regenerated-corpus case."""
    import datetime

    from api_to_parquet_spark.queries.relational import q_array_agg

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1), 7, "view", 1.5, "{}"),
            (2, datetime.datetime(2024, 1, 2), 7, "view", 2.5, "{}"),
        ],
        "event_id: long, ts: timestamp, user_id: long,"
        " event_type: string, value: double, props: string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    rows = {r["user_id"]: r for r in q_array_agg(spark, sf).collect()}
    assert rows[7]["n_vals"] == 2
    assert rows[7]["v1"] == 1.5 and rows[7]["v2"] == 2.5
    assert rows[7]["v3"] is None


@FEW
@given(
    seq=st.lists(
        st.tuples(st.integers(1, 3), st.sampled_from("abc")),
        min_size=0,
        max_size=25,
    )
)
def test_scan_matches_python_greedy_reference(spark, seq):
    """KQL scan == a 10-line Python greedy state machine, on random
    per-group event sequences: same emitted rows, steps, match ids."""
    from api_to_parquet_spark.queries.kql import kql

    steps = ["a", "b", "c"]
    expected = []
    state: dict[int, int] = {}
    emitted: dict[int, int] = {}
    for t, (u, e) in enumerate(seq):
        p = state.get(u, 0)
        if e == steps[p]:
            n = emitted.get(u, 0)
            expected.append((u, t, f"s{e}", n // 3))
            emitted[u] = n + 1
            state[u] = (p + 1) % 3
    if not seq:
        return
    vals = ", ".join(f'{u}, {t}, "{e}"' for t, (u, e) in enumerate(seq))
    got = kql(
        spark,
        f"datatable(u: long, t: long, e: string)[{vals}]"
        " | sort by t asc"
        ' | scan by u with (step sa: e == "a";'
        ' step sb: e == "b"; step sc: e == "c")'
        " | project u, t, step, match_id",
    ).collect()
    got_set = sorted((r["u"], r["t"], r["step"], r["match_id"]) for r in got)
    exp = sorted(expected)
    assert got_set == exp


@FEW
@given(
    seq=st.lists(
        st.tuples(st.integers(1, 2), st.integers(0, 6)),
        min_size=1,
        max_size=25,
    )
)
def test_scan_state_refs_match_python_reference(spark, seq):
    """Round-10 verdict #7: the round-9/10 scan STATE-REFERENCE
    surfaces under fuzz — (a) the SELF-reference cumulative idiom
    (step accepts when v exceeds the last row it accepted, per
    group), (b) a FORWARD reference (step 1 reads step 2's last
    accepted row: the previous match instance, NULL before it) —
    each against a few-line Python state machine on random
    per-group sequences."""
    from api_to_parquet_spark.queries.kql import kql

    vals = ", ".join(f"{u}, {t}, {v}" for t, (u, v) in enumerate(seq))
    src = f"datatable(u: long, t: long, v: long)[{vals}]"

    # (a) self-reference: accept iff strictly above the step's own
    # last accepted row
    last: dict[int, int] = {}
    exp_a = []
    for t, (u, v) in enumerate(seq):
        if u not in last or v > last[u]:
            exp_a.append((u, t))
            last[u] = v
    got = kql(
        spark,
        f"{src} | sort by t asc | scan by u with ("
        " step s1: isnull(s1.v) or v > s1.v;) | project u, t",
    ).collect()
    assert sorted((r["u"], r["t"]) for r in got) == sorted(exp_a)

    # (b) forward reference: s1 opens only when v differs from the
    # PREVIOUS instance's s2 row (NULL-open before the first)
    s2_last: dict[int, int] = {}
    p: dict[int, int] = {}
    exp_b = []
    for t, (u, v) in enumerate(seq):
        if p.get(u, 0) == 0:
            if u not in s2_last or v != s2_last[u]:
                exp_b.append((u, t, "s1"))
                p[u] = 1
        else:
            exp_b.append((u, t, "s2"))
            s2_last[u] = v
            p[u] = 0
    got = kql(
        spark,
        f"{src} | sort by t asc | scan by u with ("
        " step s1: isnull(s2.v) or v != s2.v;"
        " step s2: true;) | project u, t, step",
    ).collect()
    assert sorted((r["u"], r["t"], r["step"]) for r in got) == sorted(
        exp_b
    )


# --- KQL translator VALUE parity fuzz (round-8): a dual-emitter
# mini-grammar generates the same logical pipe as KQL text AND as
# DuckDB SQL, and the results must be value-identical (the driver's
# own comparator). Restricted to exact arithmetic (integer %, count,
# sum, string concat, case-insensitive contains) so float ordering
# can never produce spurious diffs. The analysis-only deck above
# checks the grammar's breadth; this checks its SEMANTICS.


@st.composite
def _kql_dual_st(draw):
    # generated-name uniquifier: len(cols) repeats once a project
    # shrinks the column set, and a re-extended name needs the
    # EXCLUDE oracle form (ADX extend replaces) — fresh names keep
    # every plain `SELECT *, … AS name` oracle honest; the rk_ arm
    # covers the re-extend surface explicitly (fuzz-caught, twice)
    _uid = iter(range(100, 10000))
    kqls = ["events"]
    sql = "SELECT event_id, user_id, event_type, ts FROM events"
    kqls.append("project event_id, user_id, event_type, ts")
    cols = {
        "event_id": "int",
        "user_id": "int",
        "event_type": "str",
        "ts": "dt",
    }
    for _ in range(draw(st.integers(1, 4))):
        ints = sorted(c for c, t in cols.items() if t == "int")
        strs = sorted(c for c, t in cols.items() if t == "str")
        dts = sorted(c for c, t in cols.items() if t == "dt")
        kind = draw(st.integers(0, 30))
        if kind == 0 and ints:
            c = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 9))
            n = draw(st.integers(0, 8))
            op = draw(
                st.sampled_from(["==", "!=", ">", "<", ">=", "<="])
            )
            sop = "=" if op == "==" else op
            kqls.append(f"where {c} % {k} {op} {n}")
            sql = f"SELECT * FROM ({sql}) _w WHERE {c} % {k} {sop} {n}"
        elif kind == 1 and ints:
            c = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 9))
            newc = f"x{next(_uid)}"
            kqls.append(f"extend {newc} = {c} % {k} + 1")
            sql = (
                f"SELECT *, {c} % {k} + 1 AS {newc} FROM ({sql}) _e"
            )
            cols[newc] = "int"
        elif kind == 2 and ints:
            g = draw(st.sampled_from(ints))
            s = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 6))
            kqls.append(
                f"summarize n = count(), s = sum({s}) by g = {g} % {k}"
            )
            sql = (
                f"SELECT {g} % {k} AS g, COUNT(*) AS n,"
                f" SUM({s}) AS s FROM ({sql}) _g GROUP BY 1"
            )
            cols = {"g": "int", "n": "int", "s": "int"}
        elif kind == 3 and strs:
            c = draw(st.sampled_from(strs))
            newc = f"t{next(_uid)}"
            kqls.append(f'extend {newc} = strcat({c}, "-z")')
            sql = f"SELECT *, {c} || '-z' AS {newc} FROM ({sql}) _s"
            cols[newc] = "str"
        elif kind == 4 and len(cols) > 1:
            keep = draw(
                st.lists(
                    st.sampled_from(sorted(cols)),
                    min_size=1,
                    unique=True,
                )
            )
            kqls.append("project " + ", ".join(keep))
            sql = f"SELECT {', '.join(keep)} FROM ({sql}) _p"
            cols = {c: cols[c] for c in keep}
        elif kind == 5 and strs:
            c = draw(st.sampled_from(strs))
            term = draw(st.sampled_from(["vi", "UR", "zz", "a"]))
            kqls.append(f'where {c} contains "{term}"')
            sql = (
                f"SELECT * FROM ({sql}) _c WHERE"
                f" position(lower('{term}') IN lower({c})) > 0"
            )
        elif kind == 6 and ints:
            # round-8 surface inside the dual grammar: a bracket-
            # quoted assignment referenced by a later where
            c = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 7))
            kqls.append(
                f"extend ['b q'] = {c} % {k} | where ['b q'] >= 1"
            )
            sql = (
                f'SELECT * FROM (SELECT *, {c} % {k} AS "b q"'
                f' FROM ({sql}) _b) _b2 WHERE "b q" >= 1'
            )
            cols["bq_marker"] = "int"  # grammar-side only
            cols.pop("bq_marker")
            # the spaced column rides along but is never re-referenced
            # by later stages (they sample from `cols`); project it
            # away immediately to keep both schemas aligned
            keep = sorted(cols)
            kqls.append("project " + ", ".join(keep))
            sql = f"SELECT {', '.join(keep)} FROM ({sql}) _bp"
        elif kind == 7 and "event_id" in cols:
            # top K by the unique key — deterministic selection, and
            # the comparator is order-insensitive
            k = draw(st.integers(1, 40))
            kqls.append(f"top {k} by event_id asc")
            sql = (
                f"SELECT * FROM ({sql}) _t ORDER BY event_id"
                f" LIMIT {k}"
            )
        elif kind == 8 and len(cols) >= 1:
            keep = draw(
                st.lists(
                    st.sampled_from(sorted(cols)),
                    min_size=1,
                    unique=True,
                )
            )
            kqls.append("distinct " + ", ".join(keep))
            sql = (
                f"SELECT DISTINCT {', '.join(keep)} FROM ({sql}) _d"
            )
            cols = {c: cols[c] for c in keep}
        elif kind == 10 and "user_id" in cols:
            # lookup: deduped dimension join (deterministic — the dim
            # is a per-user aggregate, inner semantics keep matches)
            newc = f"lk{next(_uid)}"
            k = draw(st.integers(2, 6))
            kqls.append(
                "lookup kind=inner (events"
                f" | summarize {newc} = min(event_id % {k})"
                " by user_id) on user_id"
            )
            sql = (
                f"SELECT _l.*, _r.{newc} FROM ({sql}) _l JOIN"
                f" (SELECT user_id, MIN(event_id % {k}) AS {newc}"
                " FROM events GROUP BY user_id) _r"
                " ON _l.user_id = _r.user_id"
            )
            cols[newc] = "int"
        elif kind == 11 and ints:
            # round-10 surface: mv-apply with_itemindex — the
            # original expansion index drives the subpipe's where;
            # the twin sums the same element expressions directly
            # (sum over dynamic elements is DOUBLE on the Spark side)
            c = draw(st.sampled_from(ints))
            kk = draw(st.integers(0, 2))
            newc = f"ma{next(_uid)}"
            kqls.append(
                f"extend a_ = pack_array({c} % 3, {c} % 5, {c} % 7)"
                f" | mv-apply with_itemindex=mi_ e_ = a_ on"
                f" (where mi_ >= {kk} | summarize {newc} = sum(e_))"
            )
            terms = " + ".join(
                f"{c} % {p}" for p in (3, 5, 7)[kk:]
            )
            sql = (
                f"SELECT *, CAST({terms} AS DOUBLE) AS {newc}"
                f" FROM ({sql}) _ma"
            )
            cols[newc] = "dbl"
            keep = sorted(cols)
            kqls.append("project " + ", ".join(keep))
            sql = f"SELECT {', '.join(keep)} FROM ({sql}) _map"
        elif kind == 12 and ints:
            # round-10 surface: take_any with an EXPRESSION argument
            # (struct-key min_by refinement -> MIN is the twin)
            c = draw(st.sampled_from(ints))
            g = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 6))
            m = draw(st.integers(2, 5))
            kqls.append(
                f"summarize ta = take_any({c} % {k} + 1)"
                f" by g = {g} % {m}"
            )
            sql = (
                f"SELECT {g} % {m} AS g, MIN({c} % {k} + 1) AS ta"
                f" FROM ({sql}) _ta GROUP BY 1"
            )
            cols = {"g": "int", "ta": "int"}
        elif kind == 13 and strs and ints:
            # round-10 surface: extract_all with TWO capture groups —
            # first match's second group, via 0-based native array
            # subscripts (DuckDB twin: 1-based list indexes /
            # group-indexed regexp_extract). Round-13 (seed-90210
            # find): {c} may be a NULLABLE generated column — ADX
            # tostring(null) is '' so the strcat drops the digits, no
            # match, and tostring(ea_[0][1]) is '' again; the oracle
            # must coalesce BOTH the cast (|| NULL would null the
            # whole input) and nothing else (DuckDB regexp_extract
            # already yields '' on no match).
            s1 = draw(st.sampled_from(strs))
            c = draw(st.sampled_from(ints))
            newc = f"eg{next(_uid)}"
            kqls.append(
                "extend ea_ = extract_all("
                f'@"([a-z]+)([0-9]+)", strcat({s1}, tostring({c} % 9)))'
                f" | extend {newc} = tostring(ea_[0][1])"
            )
            sql = (
                f"SELECT *, regexp_extract({s1} ||"
                f" COALESCE(CAST({c} % 9 AS VARCHAR), ''),"
                f" '([a-z]+)([0-9]+)', 2) AS {newc}"
                f" FROM ({sql}) _eg"
            )
            cols[newc] = "str"
            keep = sorted(cols)
            kqls.append("project " + ", ".join(keep))
            sql = f"SELECT {', '.join(keep)} FROM ({sql}) _egp"
        elif kind == 14 and "user_id" in cols:
            # round-10 surface: join parameters in EITHER order
            # (kind= / hint.strategy=), both orders must mean the
            # same inner join
            newc = f"jm{next(_uid)}"
            k = draw(st.integers(2, 6))
            params = ["kind=inner", "hint.strategy=broadcast"]
            if draw(st.booleans()):
                params.reverse()
            kqls.append(
                f"join {' '.join(params)} (events"
                f" | summarize {newc} = min(event_id % {k})"
                " by user_id) on user_id"
            )
            sql = (
                f"SELECT _l.*, _r.{newc} FROM ({sql}) _l JOIN"
                f" (SELECT user_id, MIN(event_id % {k}) AS {newc}"
                " FROM events GROUP BY user_id) _r"
                " ON _l.user_id = _r.user_id"
            )
            cols[newc] = "int"
        elif kind == 9 and dts:
            # datetime shapes: startofday + 1d epoch-floor bin (==
            # date_trunc for whole days on naive UTC timestamps)
            c = draw(st.sampled_from(dts))
            newc = f"d{next(_uid)}"
            which = draw(st.booleans())
            if which:
                kqls.append(f"extend {newc} = startofday({c})")
            else:
                kqls.append(f"extend {newc} = bin({c}, 1d)")
            sql = (
                f"SELECT *, date_trunc('day', {c}) AS {newc}"
                f" FROM ({sql}) _dt"
            )
            cols[newc] = "dt"
        elif kind == 15 and ints and "event_id" in cols:
            # round-11 surface: sort nulls first|last (with and
            # without a direction keyword) observed through a
            # serialized row_number with a unique tiebreak
            c = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 5))
            dirkw = draw(st.sampled_from(["", "asc", "desc"]))
            pl = draw(st.sampled_from(["first", "last"]))
            newn = f"n{next(_uid)}"
            kqls.append(
                f"extend {newn} = iff({c} % {k} == 0, long(null),"
                f" {c} % 7)"
                f" | sort by {newn} {dirkw} nulls {pl},"
                " event_id asc | extend rk_ = row_number()"
            )
            sqldir = dirkw.upper() if dirkw else "DESC"
            # a SECOND draw of this arm re-extends rk_: ADX extend
            # REPLACES an existing column, so the oracle must EXCLUDE
            # the previous rk_ (found by the fuzz itself — the bare
            # `SELECT *, … AS rk_` kept both copies in DuckDB)
            star = "* EXCLUDE (rk_)" if "rk_" in cols else "*"
            sql = (
                f"SELECT {star}, ROW_NUMBER() OVER (ORDER BY {newn}"
                f" {sqldir} NULLS {pl.upper()}, event_id ASC)"
                f" AS rk_ FROM (SELECT *, CASE WHEN {c} % {k} = 0"
                f" THEN NULL ELSE {c} % 7 END AS {newn}"
                f" FROM ({sql}) _nn) _rk"
            )
            cols[newn] = "int"
            cols["rk_"] = "int"
        elif kind == 16 and "event_type" in cols:
            # round-11 surface: has_any_index over the PRISTINE token
            # column only — the equality oracle needs tokens with no
            # word-boundary ambiguity, and a derived strcat column
            # like 'view-z' legitimately TERM-matches 'view' (the
            # fuzz caught its own oracle sampling a tainted column)
            c = "event_type"
            newc = f"hx{next(_uid)}"
            kqls.append(
                f"extend {newc} = has_any_index({c},"
                " dynamic(['view', 'click']))"
            )
            sql = (
                f"SELECT *, CAST(CASE WHEN {c} = 'view' THEN 0"
                f" WHEN {c} = 'click' THEN 1 ELSE -1 END AS BIGINT)"
                f" AS {newc} FROM ({sql}) _hx"
            )
            cols[newc] = "int"
        elif kind == 17 and ints:
            # round-11 surface: convert_* ratio folds (exact power-of-
            # ten ratio so the double multiply is exact both sides)
            c = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 9))
            newc = f"cv{next(_uid)}"
            kqls.append(
                f"extend {newc} = convert_length({c} % {k},"
                " 'Meter', 'Centimeter')"
            )
            sql = (
                f"SELECT *, CAST({c} % {k} AS DOUBLE) * 100.0"
                f" AS {newc} FROM ({sql}) _cv"
            )
            cols[newc] = "dbl"
        elif kind == 18 and ints:
            # round-11 surface: ipv4 -> canonical ipv6 transitional
            # form (string build twin). abs() keeps the input
            # provably non-negative: an upstream has_any_index miss
            # feeds -1, format_ipv4 of a negative is empty/null (the
            # ADX invalid-input contract) while the naive to_hex
            # oracle two's-complements it — the fuzz caught its own
            # oracle again
            c = draw(st.sampled_from(ints))
            newc = f"p6{next(_uid)}"
            kqls.append(
                f"extend {newc} = parse_ipv6(format_ipv4("
                f"(abs({c}) % 250) * 16843009))"
            )
            sql = (
                "SELECT *, '0000:0000:0000:0000:0000:ffff:'"
                f" || lpad(lower(to_hex(((abs({c}) % 250) * 16843009)"
                " // 65536)), 4, '0') || ':'"
                f" || lpad(lower(to_hex(((abs({c}) % 250) * 16843009)"
                f" % 65536)), 4, '0') AS {newc} FROM ({sql}) _p6"
            )
            cols[newc] = "str"
        elif kind == 19 and ints:
            # round-11 surface: array_index_of occurrence arg over a
            # constructed array whose match layout is decidable
            c = draw(st.sampled_from(ints))
            newc = f"ao{next(_uid)}"
            kqls.append(
                f"extend {newc} = array_index_of(pack_array("
                f"{c} % 5, {c} % 3, {c} % 5), {c} % 5, 1, -1, 1)"
            )
            sql = (
                f"SELECT *, CAST(CASE WHEN {c} % 3 = {c} % 5 THEN 1"
                f" ELSE 2 END AS BIGINT) AS {newc} FROM ({sql}) _ao"
            )
            cols[newc] = "int"
        elif kind == 20 and ints:
            # round-11 surface: make_list_with_nulls keeps nulls, so
            # its length is the plain group count
            g = draw(st.sampled_from(ints))
            c = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 5))
            m = draw(st.integers(2, 5))
            kqls.append(
                f"summarize ml_ = make_list_with_nulls("
                f"iff({c} % {k} == 0, long(null), {c}))"
                f" by g = {g} % {m}"
                " | project g, n = array_length(ml_)"
            )
            sql = (
                f"SELECT {g} % {m} AS g, COUNT(*) AS n"
                f" FROM ({sql}) _ml GROUP BY 1"
            )
            cols = {"g": "int", "n": "int"}
        elif (
            kind == 22
            and "event_id" in cols
            and "user_id" in cols
        ):
            # round-11 surface: compound $left/$right join conditions
            # (and-chained) — 1:1 on the unique event_id, the second
            # condition a tautology-by-construction over the same row
            k = draw(st.integers(2, 7))
            newc = f"cj{next(_uid)}"
            kqls.append(
                "join kind=inner (events | project e2_ = event_id,"
                f" u2_ = user_id, {newc} = event_id % {k})"
                " on $left.event_id == $right.e2_"
                " and $left.user_id == $right.u2_"
            )
            keep = sorted(cols) + [newc]
            kqls.append("project " + ", ".join(keep))
            sql = (
                f"SELECT {', '.join('_l.' + c for c in sorted(cols))},"
                f" _r.{newc} FROM ({sql}) _l JOIN"
                f" (SELECT event_id AS e2_, user_id AS u2_,"
                f" event_id % {k} AS {newc} FROM events) _r"
                " ON _l.event_id = _r.e2_ AND _l.user_id = _r.u2_"
            )
            cols = {**{c: cols[c] for c in cols}, newc: "int"}
        elif kind == 21 and dts:
            # round-11 surface: sub-second datetime_diff units
            c = draw(st.sampled_from(dts))
            newc = f"ms{next(_uid)}"
            kqls.append(
                f"extend {newc} = datetime_diff('millisecond',"
                f" {c}, startofday({c}))"
            )
            sql = (
                f"SELECT *, date_diff('millisecond',"
                f" date_trunc('day', {c}), {c}) AS {newc}"
                f" FROM ({sql}) _ms"
            )
            cols[newc] = "int"
        elif kind == 23 and "event_type" in cols:
            # round-11 battery 23: literal dynamic list inside in()
            neg = draw(st.booleans())
            op = "!in" if neg else "in"
            sop = "NOT IN" if neg else "IN"
            kqls.append(
                f"where event_type {op}"
                " (dynamic(['view', 'click']))"
            )
            sql = (
                f"SELECT * FROM ({sql}) _in WHERE event_type"
                f" {sop} ('view', 'click')"
            )
        elif kind == 24 and ints and "event_id" in cols:
            # round-11 battery 23: multi-assign arg_max/arg_min over
            # the UNIQUE event_id key (tie-free, so deterministic)
            v = draw(st.sampled_from(ints))
            g = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 5))
            mn = draw(st.booleans())
            fn, ext, dfn = (
                ("arg_min", "MIN", "arg_min")
                if mn
                else ("arg_max", "MAX", "arg_max")
            )
            kqls.append(
                f"summarize (t_, v_) = {fn}(event_id, {v})"
                f" by g = {g} % {k}"
            )
            sql = (
                f"SELECT {g} % {k} AS g, {ext}(event_id) AS t_,"
                f" {dfn}({v}, event_id) AS v_ FROM ({sql}) _am"
                " GROUP BY 1"
            )
            cols = {"g": "int", "t_": "int", "v_": "int"}
        elif kind == 25 and ints:
            # round-11 battery 21: partition-with-subpipe == GROUP BY.
            # Round-12: a subpipe summarize that OMITS the key yields
            # ONLY the aggregate columns (ADX union-of-outputs schema;
            # the key column no longer leaks), so the oracle projects
            # the key away too.
            g = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 5))
            newc = f"pk{next(_uid)}"
            kqls.append(
                f"extend {newc} = {g} % {k}"
                f" | partition hint.strategy=shuffle by {newc}"
                " (summarize n_ = count() | where n_ > 0)"
            )
            sql = (
                f"SELECT COUNT(*) AS n_"
                f" FROM ({sql}) _pt GROUP BY {g} % {k}"
                " HAVING COUNT(*) > 0"
            )
            cols = {"n_": "int"}
        elif kind == 26 and ints:
            # round-11 battery 21: has_ipv4 exact delimited match —
            # the text embeds the ip intact on even rows and
            # boundary-broken (digit appended) on odd rows. Round-13
            # (seed-90210 find): a NULLABLE {c} makes _ipt the
            # INVALID '10.0..7' (tostring(null) = ''), iff's null
            # condition takes the else branch, and has_ipv4 of an
            # invalid ip is FALSE — coalesce the oracle boolean.
            c = draw(st.sampled_from(ints))
            newc = f"hip{next(_uid)}"
            kqls.append(
                f"extend _ipt = strcat('10.0.', tostring({c} % 250),"
                " '.7')"
                f" | extend {newc} = has_ipv4(iff({c} % 2 == 0,"
                " strcat('x ', _ipt, ' y'), strcat('x ', _ipt,"
                f" '9 y')), _ipt) | project-away _ipt"
            )
            sql = (
                f"SELECT * EXCLUDE (_ipt),"
                f" COALESCE({c} % 2 = 0, FALSE) AS {newc}"
                f" FROM (SELECT *, '10.0.' || ({c} % 250) || '.7'"
                f" AS _ipt FROM ({sql}) _hi) _hb"
            )
            cols[newc] = "bool"
        elif kind == 27 and ints:
            # round-12 advice: tostring of a REAL renders integral
            # values without the '.0' tail ('3', not '3.0') — the
            # typeof()-gated trim; quarters keep every value exact in
            # binary and exercise both trimmed and untrimmed renders
            c = draw(st.sampled_from(ints))
            newc = f"tr{next(_uid)}"
            kqls.append(
                f"extend {newc} = tostring(abs({c}) % 40 * 1.0 / 4)"
            )
            # COALESCE: {c} may be a NULLABLE generated column and
            # ADX tostring NEVER returns null (round-13 seed-90210)
            sql = (
                f"SELECT *, COALESCE(regexp_replace("
                f"CAST(abs({c}) % 40 * 1.0"
                f" / 4 AS VARCHAR), '\\.0$', ''), '') AS {newc}"
                f" FROM ({sql}) _tr"
            )
            cols[newc] = "str"
        elif kind == 28 and ints:
            # round-12 verdict item 2: COLUMN-TYPE real-division
            # evidence — the reals are built in a PRIOR stage so the
            # dividing stage has no textual todouble/real literal and
            # the ÷0 guard must fire off the stage-child schema probe
            # (x/0 -> ±inf, 0/0 -> NaN; denominators 0/2/4 exact)
            c = draw(st.sampled_from(ints))
            na, db, newc = (
                f"na{next(_uid)}", f"db{next(_uid)}", f"rd{next(_uid)}"
            )
            kqls.append(
                f"extend {na} = todouble({c} % 7 - 3),"
                f" {db} = todouble({c} % 3 * 2)"
                f" | extend {newc} = {na} / {db}"
            )
            sql = (
                f"SELECT *, CASE WHEN {db} = 0 THEN"
                f" CASE WHEN {na} > 0 THEN 'Infinity'::DOUBLE"
                f" WHEN {na} < 0 THEN '-Infinity'::DOUBLE"
                f" ELSE 'NaN'::DOUBLE END ELSE {na} / {db} END"
                f" AS {newc} FROM (SELECT *,"
                f" CAST({c} % 7 - 3 AS DOUBLE) AS {na},"
                f" CAST({c} % 3 * 2 AS DOUBLE) AS {db}"
                f" FROM ({sql}) _rd) _rd2"
            )
            cols[na] = "float"
            cols[db] = "float"
            cols[newc] = "float"
        elif kind == 29 and ints:
            # round-12 census: conditional moments stdevif/varianceif
            # (round(,6) both sides — the kql_agg_fns2 last-ulp rule)
            s = draw(st.sampled_from(ints))
            g = draw(st.sampled_from(ints))
            k = draw(st.integers(2, 6))
            kqls.append(
                f"summarize sd0 = stdevif({s}, {s} % 2 == 0),"
                f" v0 = varianceif({s}, {s} % 2 == 0)"
                f" by g_ = {g} % {k}"
                " | project g_, sd_ = round(sd0, 6),"
                " vr_ = round(v0, 6)"
            )
            sql = (
                f"SELECT {g} % {k} AS g_,"
                f" ROUND(stddev_samp(CASE WHEN {s} % 2 = 0"
                f" THEN {s} END), 6) AS sd_,"
                f" ROUND(var_samp(CASE WHEN {s} % 2 = 0"
                f" THEN {s} END), 6) AS vr_"
                f" FROM ({sql}) _cm GROUP BY 1"
            )
            cols = {"g_": "int", "sd_": "float", "vr_": "float"}
        elif kind == 30 and ints:
            # round-13: MULTI-division chains (the former >2-division
            # skip) — every step ÷0-guarded left-to-right; middle
            # denominators cycle through 0 so intermediate ±inf/NaN
            # propagate through later divisions exactly as IEEE does
            c = draw(st.sampled_from(ints))
            newc = f"mc{next(_uid)}"
            d1 = draw(st.integers(2, 5))
            kqls.append(
                f"extend {newc} = todouble({c} % 9 - 4)"
                f" / ({c} % 3 * 1.0) / {d1}.0 / (({c} % 2) * 2.0)"
            )
            num = f"CAST({c} % 9 - 4 AS DOUBLE)"
            div = (
                lambda n, d: f"CASE WHEN {d} = 0 THEN"
                f" CASE WHEN isnan({n}) OR {n} = 0 THEN 'NaN'::DOUBLE"
                f" WHEN {n} > 0 THEN 'Infinity'::DOUBLE"
                f" ELSE '-Infinity'::DOUBLE END"
                f" ELSE {n} / {d} END"
            )
            s1 = div(num, f"({c} % 3 * 1.0)")
            s2 = div(f"({s1})", f"{d1}.0")
            s3 = div(f"({s2})", f"(({c} % 2) * 2.0)")
            sql = (
                f"SELECT *, {s3} AS {newc} FROM ({sql}) _mc"
            )
            cols[newc] = "float"
    return " | ".join(kqls), sql


@FEW
@given(pair=_kql_dual_st())
def test_kql_value_parity_fuzz(spark, sf_smoke, pair):
    from api_to_parquet_spark.lake import load
    from api_to_parquet_spark.queries.kql import kql
    from tests.oracle_utils import compare, duck_connection

    load(spark, sf_smoke, "events").createOrReplaceTempView("events")
    kql_text, sql = pair
    con = duck_connection(sf_smoke)
    try:
        compare(kql(spark, kql_text), con, sql)
    finally:
        con.close()
