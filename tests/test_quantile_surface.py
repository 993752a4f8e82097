"""Pin for the quantile families' query surface: KLL float and double, REQ
float and classic quantiles double.

Every public DataFrame function and every SQL name ``register_all`` gives
these families runs on one fixed input with a group below every family's k
(11 values), a group far above it (20,000 values), an all-NULL group (an
empty sketch) and a NULL sketch. Each Spark output must equal the kernel
method called on the collected sketch image, at the result type the function
declares. Below k the answers must also equal numpy's exact ones. The input
holds 0.1, which float32 cannot represent, so REQ's rank at 0.1 shows
whether the comparison runs in the items' float32.
"""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.errors import PythonException

from datasketches_postgresql_spark.functions import kll as K
from datasketches_postgresql_spark.functions import quantiles as Q
from datasketches_postgresql_spark.functions import req as R
from datasketches_postgresql_spark.functions.registry import register_all
from datasketches_postgresql_spark.sketches import kll as KK
from datasketches_postgresql_spark.sketches import kll_interop as KI
from datasketches_postgresql_spark.sketches import quantiles as QK
from datasketches_postgresql_spark.sketches import req as RK
from datasketches_postgresql_spark.sketches import req_interop as RI

SMALL = [0.1, -2.5, 3.0, 3.0, 0.1, 7.25, -0.75, 0.001, 42.0, 0.1, -2.5]
RANKS = [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]
VALUES = [0.1, 3.0, -100.0, 100.0]
SPLITS = [-1.0, 0.1, 3.0, 10.0]
SK = "sketch"


def _large() -> list[float]:
    x = np.round(np.random.default_rng(61).normal(0.0, 5.0, 20_000), 2)
    x[::97] = 0.1
    return x.tolist()


@pytest.fixture(scope="module")
def pin_input(spark):
    rows = [("small", v) for v in SMALL] + [("large", v) for v in _large()]
    rows += [("empty", None)] * 3
    df = spark.createDataFrame(rows, "g string, v double").repartition(4)
    df.createOrReplaceTempView("pin_input")
    register_all(spark)
    return df


# ---- expected values ---------------------------------------------------------


def _norm(v, kind):
    """The kernel answer as Spark returns it for a result of ``kind``: float
    kinds round to float32, and a NaN arrives as NULL, inside arrays too. A
    ``*cast`` kind is a double result cast to float in Spark."""
    if isinstance(v, list):
        if kind == "flist":
            return [None if math.isnan(x) else float(np.float32(x)) for x in v]
        return [_norm(x, "float" if kind == "flistcast" else "double") for x in v]
    if v is None or (kind in ("double", "float", "floatcast") and math.isnan(v)):
        return None
    if kind in ("float", "floatcast"):
        return float(np.float32(v))
    if kind == "double":
        return float(v)
    return v


def _eq(got, want) -> bool:
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(
            _eq(a, b) for a, b in zip(got, want)
        )
    if isinstance(want, float) and math.isnan(want):
        return isinstance(got, float) and math.isnan(got)
    return got == want and type(got) is type(want)


def _min_max(st, attr):
    return float("nan") if st.n == 0 else getattr(st, attr)


# numpy exact answers over the sorted items ``x`` (in the family's item dtype)


def _np_rank(x, v, inc):
    v = x.dtype.type(v)
    return np.count_nonzero(x <= v if inc else x < v) / x.size


def _np_quantile(x, r, inc):
    t = r * x.size
    i = math.ceil(t) - 1 if inc else math.floor(t)
    return float(x[min(max(i, 0), x.size - 1)])


def _np_cdf(x, splits, inc):
    return [_np_rank(x, s, inc) for s in splits] + [1.0]


def _np_pmf(x, splits, inc):
    c = _np_cdf(x, splits, inc)
    return [c[0]] + [c[i] - c[i - 1] for i in range(1, len(c))]


def _np_hist(x, bins):
    lo, hi = float(x[0]), float(x[-1])
    step = (hi - lo) / bins
    edges = np.array([lo + step * i for i in range(1, bins)]).astype(x.dtype)
    cuts = np.concatenate([[0], np.searchsorted(x, edges, side="right"), [x.size]])
    return np.diff(cuts).astype(float).tolist()


# ---- the cases ---------------------------------------------------------------


_LIST_KIND = {"double": "dlist", "float": "flist", "floatcast": "flistcast"}


class Case:
    """One query: its DataFrame column and/or SQL expression, the kernel
    answer on a decoded state, and numpy's exact answer (None: no exact
    check) on the sorted items."""

    def __init__(self, label, df_col, sql, kernel, exact, df_kind, sql_kind):
        self.label, self.df_col, self.sql = label, df_col, sql
        self.kernel, self.exact = kernel, exact
        self.df_kind, self.sql_kind = df_kind, sql_kind


def _query_cases(fns, sql, item, sql_item, inclusive):
    """``fns`` maps query -> public DataFrame function (absent: no DataFrame
    name); ``sql`` is the SQL name prefix (None: no SQL name)."""
    c = F.col(SK)
    out = []

    def add(label, name, args, sql_args, kernel, exact, kind, skind=None):
        fn = fns.get(name)
        out.append(Case(
            label,
            None if fn is None else fn(c, *args),
            None if sql is None else f"{sql}_{name}({', '.join(['sketch', *sql_args])})",
            kernel, exact, kind, skind or kind,
        ))

    def lit_arr(xs):
        return "array(" + ", ".join(f"{x!r}D" for x in xs) + ")"

    for inc in (False, True) if inclusive else (None,):
        a, s = ((), ()) if inc is None else ((inc,), (str(inc).lower(),))
        b = bool(inc)
        for r in RANKS:
            add(f"quantile {r} {inc}", "get_quantile", (r, *a), (f"{r!r}D", *s),
                lambda st, r=r, b=b: st.get_quantile(r, b),
                lambda x, r=r, b=b: _np_quantile(x, r, b), item, sql_item)
        add(f"quantiles {inc}", "get_quantiles", (RANKS, *a), (lit_arr(RANKS), *s),
            lambda st, b=b: st.get_quantiles(RANKS, b),
            lambda x, b=b: [_np_quantile(x, r, b) for r in RANKS],
            _LIST_KIND[item], _LIST_KIND[sql_item])
        for v in VALUES:
            add(f"rank {v} {inc}", "get_rank", (v, *a), (f"{v!r}D", *s),
                lambda st, v=v, b=b: st.get_rank(v, b),
                lambda x, v=v, b=b: _np_rank(x, v, b), "double")
        add(f"pmf {inc}", "get_pmf", (SPLITS, *a), (lit_arr(SPLITS), *s),
            lambda st, b=b: st.get_pmf(SPLITS, b),
            lambda x, b=b: _np_pmf(x, SPLITS, b), "dlist")
        add(f"cdf {inc}", "get_cdf", (SPLITS, *a), (lit_arr(SPLITS), *s),
            lambda st, b=b: st.get_cdf(SPLITS, b),
            lambda x, b=b: _np_cdf(x, SPLITS, b), "dlist")
    for bins in (4, 10):
        add(f"histogram {bins}", "get_histogram", (bins,), (str(bins),),
            lambda st, bins=bins: st.get_histogram(bins),
            lambda x, bins=bins: _np_hist(x, bins), "dlist")
    if "get_histogram" in fns:  # the DataFrame default of 10 bins
        out.append(Case("histogram default", fns["get_histogram"](c), None,
                        lambda st: st.get_histogram(10), lambda x: _np_hist(x, 10),
                        "dlist", "dlist"))
    add("n", "get_n", (), (), lambda st: st.n, lambda x: x.size, "long")
    if "get_min_item" in fns or inclusive:
        add("min", "get_min_item", (), (), lambda st: _min_max(st, "min"),
            lambda x: float(x[0]), item, sql_item)
        add("max", "get_max_item", (), (), lambda st: _min_max(st, "max"),
            lambda x: float(x[-1]), item, sql_item)
    add("to_string", "to_string", (), (), lambda st: st.to_string(), None, "str")
    return out


KLL_FNS = {name: getattr(K, f"kll_sketch_{name}") for name in (
    "get_quantile", "get_quantiles", "get_rank", "get_pmf", "get_cdf",
    "get_histogram", "get_n", "get_min_item", "get_max_item", "to_string")}
KLL_FLOAT_FNS = {name: getattr(K, f"kll_float_sketch_{name}") for name in (
    "get_quantile", "get_quantiles", "get_min_item", "get_max_item")}
REQ_FNS = {name: getattr(R, f"req_float_sketch_{name}") for name in KLL_FNS}
QD_FNS = {name: getattr(Q, f"quantiles_double_sketch_{name}") for name in (
    "get_quantile", "get_quantiles", "get_rank", "get_pmf", "get_cdf",
    "get_histogram", "get_n", "to_string")}


class Family:
    def __init__(self, name, build, merge, load, k, cases, codecs, sql_build):
        self.name, self.build, self.merge, self.load = name, build, merge, load
        self.k, self.cases, self.codecs = k, cases, codecs
        self.sql_build = sql_build


def _families():
    c = F.col(SK)
    kll = lambda: _query_cases(KLL_FNS, "kll_float_sketch", "double", "double", True)  # noqa: E731
    kll_float = lambda: kll() + [  # noqa: E731
        case for case in _query_cases(KLL_FLOAT_FNS, None, "floatcast", "double", True)
        if case.df_col is not None
    ]
    return {
        "kll_float": Family(
            "kll_float", K.kll_float_sketch_build, K.kll_float_sketch_merge,
            KK.KllState.deserialize, KK.DEFAULT_K, kll_float,
            lambda: [
                (K.kll_float_sketch_to_datasketches(c), "kll_float_sketch_to_datasketches(sketch)",
                 lambda img: KI.serialize(img, "<f4")),
                (K.kll_float_sketch_from_datasketches(K.kll_float_sketch_to_datasketches(c)),
                 "kll_float_sketch_from_datasketches(kll_float_sketch_to_datasketches(sketch))",
                 lambda img: KI.deserialize(KI.serialize(img, "<f4"), "<f4")),
            ],
            "kll_float_sketch",
        ),
        "kll_double": Family(
            "kll_double", K.kll_double_sketch_build, K.kll_double_sketch_merge,
            KK.KllState.deserialize, KK.DEFAULT_K, kll,
            lambda: [
                (K.kll_double_sketch_to_datasketches(c), "kll_double_sketch_to_datasketches(sketch)",
                 lambda img: KI.serialize(img, "<f8")),
                (K.kll_double_sketch_from_datasketches(K.kll_double_sketch_to_datasketches(c)),
                 "kll_double_sketch_from_datasketches(kll_double_sketch_to_datasketches(sketch))",
                 lambda img: KI.deserialize(KI.serialize(img, "<f8"), "<f8")),
            ],
            "kll_double_sketch",
        ),
        "req": Family(
            "req", R.req_float_sketch_build, R.req_float_sketch_merge,
            RK.ReqState.deserialize, RK.DEFAULT_K,
            lambda: _query_cases(REQ_FNS, "req_float_sketch", "float", "float", True),
            lambda: [
                (R.req_float_sketch_to_datasketches(c), "req_float_sketch_to_datasketches(sketch)",
                 RI.serialize_canonical),
                (R.req_float_sketch_from_datasketches(R.req_float_sketch_to_datasketches(c)),
                 "req_float_sketch_from_datasketches(req_float_sketch_to_datasketches(sketch))",
                 lambda img: RI.deserialize_canonical(RI.serialize_canonical(img))),
            ],
            "req_float_sketch",
        ),
        "quantiles": Family(
            "quantiles", Q.quantiles_double_sketch_build, Q.quantiles_double_sketch_merge,
            QK.QuantilesState.deserialize, QK.DEFAULT_K,
            lambda: _query_cases(QD_FNS, "quantiles_double_sketch", "double", "double", False),
            lambda: [
                (Q.quantiles_double_sketch_roundtrip(c), None,
                 lambda img: QK.QuantilesState.deserialize(img).serialize()),
            ],
            "quantiles_double_sketch",
        ),
    }


FAMILIES = ["kll_float", "kll_double", "req", "quantiles"]


def _with_null_sketch(spark, sk):
    null = spark.createDataFrame([("null", None)], f"g string, {SK} binary")
    return sk.select("g", SK).unionByName(null)


def _check_rows(rows, fam, cases, codecs, sql):
    """Each row holds g, the image and one column per case / codec."""
    seen = set()
    for row in rows:
        g, img = row["g"], row[SK]
        seen.add(g)
        st = None if img is None else fam.load(bytes(img))
        for i, case in enumerate(cases):
            kind = case.sql_kind if sql else case.df_kind
            want = None if st is None else _norm(case.kernel(st), kind)
            got = row[f"c{i}"]
            assert _eq(got, want), (fam.name, "sql" if sql else "df", g, case.label, got, want)
        for j, (_, _, fn) in enumerate(codecs):
            got = row[f"x{j}"]
            want = None if img is None else fn(bytes(img))
            assert got == want, (fam.name, g, "codec", j)
        if g == "empty":  # every family answers an empty sketch's quantiles with NULLs
            for i, case in enumerate(cases):
                if case.label.startswith("quantiles "):
                    assert row[f"c{i}"] == [None] * len(RANKS), (fam.name, case.label)
    assert seen == {"small", "large", "empty", "null"}
    return {r["g"]: r for r in rows}


def _small_items(family):
    """The small group's values as the family's build stores them: REQ keeps
    float32 items; the KLL float builds (DataFrame and SQL) round to float32
    and keep float64 items."""
    x = np.asarray(SMALL, dtype=np.float64)
    if family == "req":
        return x.astype(np.float32)
    if family == "kll_float":
        return x.astype(np.float32).astype(np.float64)
    return x


def _check_exact(fam, rows, cases, sql):
    """Below k every answer equals numpy's exact one."""
    small = rows["small"]
    x = np.sort(_small_items(fam.name))
    assert fam.load(bytes(small[SK])).n == x.size < fam.k
    for i, case in enumerate(cases):
        if case.exact is None:
            continue
        kind = case.sql_kind if sql else case.df_kind
        want = _norm(case.exact(x), kind)
        got = small[f"c{i}"]
        if case.label.startswith(("pmf", "cdf", "histogram")):  # sums of masses
            assert got == pytest.approx(want, abs=1e-12), (fam.name, case.label, got, want)
        else:
            assert _eq(got, want), (fam.name, case.label, got, want)


@pytest.mark.parametrize("family", FAMILIES)
def test_dataframe_surface_matches_kernel_and_exact(spark, pin_input, family):
    fam = _families()[family]
    cases = [c for c in fam.cases() if c.df_col is not None]
    codecs = [x for x in fam.codecs() if x[0] is not None]
    sk = _with_null_sketch(spark, fam.build(pin_input, ["g"], "v"))
    rows = sk.select(
        "g", SK,
        *[c.df_col.alias(f"c{i}") for i, c in enumerate(cases)],
        *[x[0].alias(f"x{j}") for j, x in enumerate(codecs)],
    ).collect()
    by_g = _check_rows(rows, fam, cases, codecs, sql=False)
    _check_exact(fam, by_g, cases, False)
    assert fam.load(bytes(by_g["large"][SK])).n == 20_000
    assert fam.load(bytes(by_g["empty"][SK])).n == 0

    merged = fam.merge(sk, [], SK).select(
        SK, *[c.df_col.alias(f"c{i}") for i, c in enumerate(cases)]
    ).collect()
    assert len(merged) == 1
    st = fam.load(bytes(merged[0][SK]))
    assert st.n == 20_000 + len(SMALL)
    for i, case in enumerate(cases):
        want = _norm(case.kernel(st), case.df_kind)
        assert _eq(merged[0][f"c{i}"], want), (family, "merge", case.label)


@pytest.mark.parametrize("family", FAMILIES)
def test_sql_surface_matches_kernel_and_exact(spark, pin_input, family):
    fam = _families()[family]
    cases = [c for c in fam.cases() if c.sql is not None]
    codecs = [x for x in fam.codecs() if x[1] is not None]
    built = spark.sql(
        f"SELECT g, {fam.sql_build}_build(v, {fam.k}) AS {SK} FROM pin_input GROUP BY g "
        f"UNION ALL SELECT 'null' AS g, CAST(NULL AS BINARY) AS {SK}"
    )
    built.createOrReplaceTempView("pin_sketches")
    select = ", ".join(
        ["g", SK]
        + [f"{c.sql} AS c{i}" for i, c in enumerate(cases)]
        + [f"{x[1]} AS x{j}" for j, x in enumerate(codecs)]
    )
    rows = spark.sql(f"SELECT {select} FROM pin_sketches").collect()
    by_g = _check_rows(rows, fam, cases, codecs, sql=True)
    _check_exact(fam, by_g, cases, True)

    merged = spark.sql(
        f"SELECT {SK}, {', '.join(f'{c.sql} AS c{i}' for i, c in enumerate(cases))} FROM "
        f"(SELECT {fam.sql_build}_merge({SK}) AS {SK} FROM pin_sketches)"
    ).collect()
    st = fam.load(bytes(merged[0][SK]))
    assert st.n == 20_000 + len(SMALL)
    for i, case in enumerate(cases):
        want = _norm(case.kernel(st), case.sql_kind)
        assert _eq(merged[0][f"c{i}"], want), (family, "sql merge", case.label)


def test_inclusive_is_an_optional_trailing_argument(spark, pin_input):
    """KLL and REQ take ``inclusive`` as an optional last argument (left out it
    means false); the classic family takes none, and no family takes more."""
    spark.sql(
        "SELECT g, kll_float_sketch_build(v, 200) AS k, req_float_sketch_build(v, 12) AS r, "
        "quantiles_double_sketch_build(v, 128) AS q FROM pin_input WHERE g = 'small' GROUP BY g"
    ).createOrReplaceTempView("pin_optional")
    row = spark.sql(
        "SELECT k, r, kll_float_sketch_get_rank(k, 3.0D) AS k2, "
        "req_float_sketch_get_quantile(r, 0.5D) AS r2 FROM pin_optional"
    ).collect()[0]
    assert row["k2"] == KK.KllState.deserialize(bytes(row["k"])).get_rank(3.0, False)
    assert row["r2"] == RK.ReqState.deserialize(bytes(row["r"])).get_quantile(0.5, False)


@pytest.mark.parametrize("query", [
    "quantiles_double_sketch_get_rank(q, 3.0D, true)",
    "quantiles_double_sketch_get_quantile(q, 0.5D, 0.9D)",
    "quantiles_double_sketch_get_cdf(q, array(1.0D), false)",
    "kll_float_sketch_get_rank(k, 3.0D, true, false)",
    "req_float_sketch_get_pmf(r, array(1.0D), true, true)",
])
def test_extra_trailing_arguments_are_rejected(spark, pin_input, query):
    spark.sql(
        "SELECT kll_float_sketch_build(v, 200) AS k, req_float_sketch_build(v, 12) AS r, "
        "quantiles_double_sketch_build(v, 128) AS q FROM pin_input WHERE g = 'small'"
    ).createOrReplaceTempView("pin_extra")
    with pytest.raises(PythonException, match="trailing inclusive"):
        spark.sql(f"SELECT {query} FROM pin_extra").collect()
