"""Pure-SQL reference twin of the series_decompose kernels — used ONLY
by tests/test_kql_series_arrow.py to check the Arrow kernels in
`api_to_parquet_spark/queries/series_decomp.py` bit-for-bit.

This is the higher-order-function emission the kernels were ported
from: every intermediate (element sums, linefit, detrended series,
autodetected period, per-phase means, quantiles) is a named `_sc_*`
column of one nested SELECT stage, and all math is `aggregate` /
`transform` folds over the per-row array. `ref_sql(body)` translates a
KQL text exactly as the product translator does sessionless, except
that each series_decompose / series_decompose_anomalies extend expands
to these stages instead of the kernel UDF call.
"""

from __future__ import annotations

import re
from unittest import mock

from api_to_parquet_spark.queries import kql as K

_D0 = K._D0
_sum_sql = K._sum_sql


def _seasonal_means_sql(phi: str, pstr: str, det: str, n: str) -> str:
    """Per-phase means of a detrended series as `_sc_seas`, by direct
    stride indexing: phase _p's members are det[_p], det[_p + P], … —
    one fold of ~n/P adds per phase, in ascending index order. A phase
    with no members (n <= p) yields NULL. The member count for phase p
    is floor((n-1-p)/P)+1; n and the division stay DOUBLE, and the CAST
    truncation equals floor because the operands are non-negative exact
    integers."""
    cnt = f"CAST(({n} - 1 - _p) / {pstr} AS INT)"
    return (
        f"transform(sequence(0, {phi}), _p -> CASE"
        f" WHEN {n} > _p THEN"
        f" aggregate(sequence(0, {cnt}), {_D0},"
        f" (_a, _k) -> _a + element_at({det}, _p + _k * {pstr} + 1))"
        f" / ({cnt} + 1)"
        " ELSE CAST(NULL AS DOUBLE) END) AS _sc_seas"
    )


def decompose_chain_sql(
    prev: str, fn: str, names: list[str], args: list[str]
) -> str:
    """The nested-SELECT emission of one series_decompose(_anomalies)
    extend over the relation `prev`."""
    y = K._expr(args[0])
    stages: list[str] = []
    nest = stages.append

    def build(final_extra: str, temps: list[str]) -> str:
        sql = f"SELECT * FROM {prev}"
        for j, extra in enumerate(stages):
            sql = f"SELECT *, {extra} FROM ({sql}) AS _sc{j}"
        return (
            f"SELECT * EXCEPT ({', '.join(temps)}), {final_extra}"
            f" FROM ({sql}) AS _scf"
        )

    # period: a literal integer embeds as a constant; -1 or omitted
    # autodetects it per row (argmax autocorrelation of the detrended
    # series over lags 2..n/2, period 1 when the peak is under 0.5)
    pdyn = True
    pstr = "_sc_p"
    if len(args) >= 2:
        a1 = args[1].strip()
        if re.match(r"^\d+$", a1):
            pdyn, pstr = False, a1
        elif a1 != "-1":
            raise ValueError(f"{fn}: unsupported period {a1!r}")
    phi = "(_sc_p - 1)" if pdyn else str(int(pstr) - 1)

    ys = f"transform({y}, _x -> CAST(_x AS DOUBLE))"
    nest(f"{ys} AS _sc_ys")
    nest("CAST(size(_sc_ys) AS DOUBLE) AS _sc_n")
    nest(
        f"{_sum_sql('_sc_ys')} AS _sc_sy, "
        + _sum_sql("transform(_sc_ys, (_x, _i) -> _x * CAST(_i AS DOUBLE))")
        + " AS _sc_sxy, (_sc_n - 1) * _sc_n / 2 AS _sc_sx,"
        " (_sc_n - 1) * _sc_n * (2 * _sc_n - 1) / 6 AS _sc_sxx"
    )
    nest(
        "(_sc_n * _sc_sxy - _sc_sx * _sc_sy)"
        f" / nullif(_sc_n * _sc_sxx - _sc_sx * _sc_sx, {_D0})"
        " AS _sc_slope"
    )
    nest("(_sc_sy - _sc_slope * _sc_sx) / _sc_n AS _sc_icept")
    nest(
        "transform(_sc_ys, (_x, _i) ->"
        " _x - (_sc_icept + _sc_slope * _i)) AS _sc_det"
    )
    ptmp: list[str] = []
    if pdyn:
        nest(
            "coalesce(nullif("
            + _sum_sql("transform(_sc_det, _x -> _x * _x)")
            + f", {_D0}), CAST(1 AS DOUBLE)) AS _sc_pden"
        )
        nest(
            "transform(sequence(2, greatest(2,"
            " CAST(_sc_n / 2 AS INT))), _L -> CASE"
            " WHEN size(_sc_det) - _L >= 1 THEN"
            f" aggregate(sequence(1, size(_sc_det) - _L), {_D0},"
            " (_a, _i) -> _a + element_at(_sc_det, _i)"
            " * element_at(_sc_det, _i + _L)) / _sc_pden"
            f" ELSE {_D0} END) AS _sc_pacs"
        )
        nest("array_max(_sc_pacs) AS _sc_pbest")
        nest(
            "IF(_sc_pbest >= 0.5, 2 +"
            " CAST(array_position(_sc_pacs, _sc_pbest) AS INT) - 1,"
            " 1) AS _sc_p"
        )
        ptmp = ["_sc_pden", "_sc_pacs", "_sc_pbest", "_sc_p"]
    nest(_seasonal_means_sql(phi, pstr, "_sc_det", "_sc_n"))
    temps = ["_sc_ys", "_sc_n", "_sc_sy", "_sc_sxy", "_sc_sx", "_sc_sxx",
             "_sc_slope", "_sc_icept", "_sc_det", "_sc_seas"]

    if fn == "series_decompose":
        base, seas, trend, resid = names
        nest(
            "transform(_sc_ys, (_x, _i) ->"
            f" _sc_icept + _sc_slope * _i) AS {trend},"
            " transform(_sc_ys, (_x, _i) ->"
            f" element_at(_sc_seas, _i % {pstr} + 1)) AS {seas}"
        )
        nest(f"zip_with({trend}, {seas}, (_t, _s) -> _t + _s) AS {base}")
        return build(
            f"zip_with(_sc_ys, {base}, (_x, _b) -> _x - _b) AS {resid}",
            temps + ptmp,
        )

    anom, score, base = names
    k = K._expr(args[2]) if len(args) > 2 else "1.5"
    nest(
        "transform(_sc_ys, (_x, _i) -> _sc_icept + _sc_slope * _i"
        f" + element_at(_sc_seas, _i % {pstr} + 1)) AS {base}"
    )
    nest(f"zip_with(_sc_ys, {base}, (_x, _b) -> _x - _b) AS _sc_res")
    nest(
        "array_sort(_sc_res) AS _sc_srt,"
        " CAST(size(_sc_res) AS INT) AS _sc_ni"
    )
    nest(
        "try_element_at(_sc_srt,"
        " CAST(floor(0.1 * (_sc_ni - 1)) AS INT) + 1) AS _sc_q10,"
        " try_element_at(_sc_srt,"
        " CAST(floor(0.9 * (_sc_ni - 1)) AS INT) + 1) AS _sc_q90"
    )
    nest("_sc_q90 - _sc_q10 AS _sc_iqr")
    nest(
        K._tukey_score_sql("_sc_res", "_sc_q10", "_sc_q90", "_sc_iqr", k)
        + f" AS {score}"
    )
    return build(
        f"transform({score}, _s -> CASE WHEN _s > 0 THEN 1"
        f" WHEN _s < 0 THEN -1 ELSE 0 END) AS {anom}",
        temps
        + ["_sc_res", "_sc_srt", "_sc_ni", "_sc_q10", "_sc_q90", "_sc_iqr"]
        + ptmp,
    )


def ref_sql(body: str) -> str:
    """Sessionless `kql_to_sql(body)` with the decompose family expanded
    by `decompose_chain_sql`; every other stage is the product's."""
    product = K._series_chain_sql

    def chain(prev, fn, names, args):
        if fn in ("series_decompose", "series_decompose_anomalies"):
            return decompose_chain_sql(prev, fn, names, args)
        return product(prev, fn, names, args)

    with mock.patch.object(K, "_series_chain_sql", chain):
        return K.kql_to_sql(body, None)
