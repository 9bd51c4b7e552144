"""Parsed-SQL constructions do not depend on column names or parser confs.

Every operator that builds an expression as SQL text goes through
``sqltext`` (quoted names, ``__fs_`` lambda variables, one literal rule).
Each case below runs the operator on a hostile column name under both
values of ``spark.sql.parser.escapedStringLiterals`` and compares with
the same call on a plainly named column under the default conf.  The
last tests are a static scan of the package source (no Spark session).
"""

from __future__ import annotations

import ast
import math
import pathlib
import re
from contextlib import contextmanager

import pytest

from feature_store_healthcare_spark import maintenance, sqltext
from feature_store_healthcare_spark.operators import dedup, drift, similarity, text

ESCAPED = "spark.sql.parser.escapedStringLiterals"
HOSTILE = ["my col", "select", "i", "we`ird"]

name_param = pytest.mark.parametrize("name", HOSTILE)
mode_param = pytest.mark.parametrize("escaped", [False, True], ids=["default", "escaped"])


@contextmanager
def parser_mode(spark, escaped: bool):
    spark.conf.set(ESCAPED, str(escaped).lower())
    try:
        yield
    finally:
        spark.conf.unset(ESCAPED)


_WANT: dict[str, list] = {}


def _same_call(spark, escaped, name, plain, run):
    """``run(plain)`` under the default conf (once per test function),
    then ``run(name)`` under the requested parser mode; both results."""
    key = run.__qualname__
    if key not in _WANT:
        _WANT[key] = run(plain)
    with parser_mode(spark, escaped):
        got = run(name)
    return _WANT[key], got


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# ---------------------------------------------------------------- literals


@mode_param
def test_lit_reads_back_in_both_parser_modes(spark, escaped):
    strings = ["plain", "", "it's", "\\", "\\'", "a\\b", "''", "ünï 字", "tab\there"]
    doubles = [0.1, -1.0 / 3.0, 1e-06, 5e-324, 1.7976931348623157e308, 0.0, 2.5]
    specials = [math.nan, math.inf, -math.inf]
    ints = [0, -7, 2**40]
    values = strings + doubles + specials + ints
    sql = ", ".join(f"{sqltext.lit(v)} AS c{k}" for k, v in enumerate(values))
    with parser_mode(spark, escaped):
        row = spark.sql(f"SELECT {sql}").collect()[0]
    got = list(row)
    n = len(strings) + len(doubles)
    assert got[:n] == strings + doubles
    assert math.isnan(got[n]) and got[n + 1] == math.inf and got[n + 2] == -math.inf
    assert got[n + 3 :] == ints
    assert [type(x) for x in got[len(strings) : n]] == [float] * len(doubles)


def test_ident_quotes_names():
    assert sqltext.ident("my col") == "`my col`"
    assert sqltext.ident("we`ird") == "`we``ird`"


# ---------------------------------------------------------------- operators

TEXTS = [
    (1, "a   b\tc d e"),
    (2, "The  quick\nbrown FOX  jumps"),
    (3, None),
    (4, "solo"),
]


@mode_param
@name_param
def test_shingles_hostile_name(spark, name, escaped):
    def run(col):
        df = spark.createDataFrame(TEXTS, "id int, t string").toDF("id", col)
        return _rows(dedup.shingles(df, "id", col, n=2))

    want, got = _same_call(spark, escaped, name, "t", run)
    assert [s for i, s in want if i == 1] == ["a b", "b c", "c d", "d e"]
    assert got == want


def _values(spark, col):
    rows = [("a", float(v)) for v in range(0, 100, 3)]
    rows += [("b", 7.5), ("b", 7.5), ("b", 90.0), ("b", None), ("c", 400.0)]
    return spark.createDataFrame(rows, "grp string, v double").toDF("grp", col)


@mode_param
@name_param
def test_hist_state_and_quantiles_hostile_name(spark, name, escaped):
    def run(col):
        st = maintenance.incremental_agg(
            _values(spark, col), ["grp"], col, specs=["count", "hist"],
            hist_lo=0.0, hist_hi=100.0, hist_bins=7,
        )
        fin = maintenance.finalize_agg_states(st, ["grp"], quantiles=(0.5, 0.9))
        return _rows(st) + _rows(fin)

    want, got = _same_call(spark, escaped, name, "v", run)
    assert got == want


@mode_param
@name_param
def test_robust_outliers_hostile_name(spark, name, escaped):
    def run(col):
        return _rows(drift.robust_outliers(_values(spark, col), ["grp"], col, z_cut=1.0))

    want, got = _same_call(spark, escaped, name, "v", run)
    assert got == want


@mode_param
@name_param
def test_winsorize_hostile_name(spark, name, escaped):
    def run(col):
        return _rows(drift.winsorize(_values(spark, col), ["grp"], col, 0.05, 0.95))

    want, got = _same_call(spark, escaped, name, "v", run)
    assert got == want


@mode_param
@name_param
def test_equidepth_bins_hostile_name(spark, name, escaped):
    def run(col):
        return _rows(drift.equidepth_bins(_values(spark, col), ["grp"], col, nbins=4))

    want, got = _same_call(spark, escaped, name, "v", run)
    assert got == want


@mode_param
@name_param
def test_cosine_similarity_unrolled_hostile_name(spark, name, escaped):
    vecs = [
        (1, [1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]),
        (2, [0.5, -1.0, 0.0, 2.0], [0.5, -1.0, 0.0, 2.0]),
        (3, [1e-3, 7.0, -2.0, 0.25], [3.0, 0.0, 1.0, -9.0]),
    ]

    def run(col):
        other = col + " 2"
        df = spark.createDataFrame(
            vecs, "id int, a array<double>, b array<double>"
        ).toDF("id", col, other)
        return _rows(df.select("id", similarity.cosine_similarity(col, other, dim=4)))

    want, got = _same_call(spark, escaped, name, "va", run)
    assert got == want


def _py_bpe(word, rules):
    """Sequential greedy left-to-right merge passes (the bpe_encode
    contract) in plain Python."""
    syms = list(word)
    for a, b in rules:
        out = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        syms = out
    return syms


@mode_param
def test_bpe_encode_rules_with_quote_and_backslash(spark, escaped):
    docs = [(1, "it's a\\b it's"), (2, "a\\b '' it")]
    rules = [("i", "t"), ("it", "'"), ("it'", "s"), ("a", "\\"), ("a\\", "b"), ("'", "'")]

    def run():
        df = spark.createDataFrame(docs, "doc_id int, text string")
        enc = text.bpe_encode(df, "doc_id", "text", rules, rules_per_pass=4)
        return [(r.doc_id, list(r.tokens)) for r in enc.orderBy("doc_id").collect()]

    want = run()
    assert want == [
        (i, [t for w in s.split() for t in _py_bpe(w, rules)]) for i, s in docs
    ]
    with parser_mode(spark, escaped):
        assert run() == want


# ---------------------------------------------------------------- static guard

PKG = pathlib.Path(__file__).resolve().parent.parent / "feature_store_healthcare_spark"
SQL_MODULES = sorted((PKG / "operators").glob("*.py")) + [PKG / "maintenance.py"]


def _is_fexpr(node) -> bool:
    f = node.func if isinstance(node, ast.Call) else None
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "expr"
        and isinstance(f.value, ast.Name)
        and f.value.id == "F"
    )


def _is_sqltext_call(node) -> bool:
    f = node.func if isinstance(node, ast.Call) else None
    if isinstance(f, ast.Attribute):
        return isinstance(f.value, ast.Name) and f.value.id == "sqltext"
    return isinstance(f, ast.Name) and f.id in {"ident", "lit"}


def _sql_sources(fn, builders: set[str]) -> list[ast.AST]:
    """Expressions of ``fn`` whose text reaches ``F.expr``: its
    arguments, the return values of ``fn`` when it is one of the
    ``builders`` called inside an ``F.expr``, and whatever is assigned
    or appended to a local that flows into either."""
    nodes = list(ast.walk(fn))
    sources = [a for n in nodes if _is_fexpr(n) for a in n.args]
    if fn.name in builders:
        sources += [n.value for n in nodes if isinstance(n, ast.Return) and n.value]
    writes = []  # (local name, written expression)
    for n in nodes:
        if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign)) and n.value:
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            for t in targets:
                for e in ast.walk(t):
                    if isinstance(e, ast.Name):
                        writes.append((e.id, n.value))
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in {"append", "extend"}
            and isinstance(n.func.value, ast.Name)
        ):
            writes += [(n.func.value.id, a) for a in n.args]
    seen: set[str] = set()
    while True:
        used = {e.id for s in sources for e in ast.walk(s) if isinstance(e, ast.Name)}
        new = used - seen
        if not new:
            return sources
        seen |= new
        sources += [v for name, v in writes if name in new]


def _params(fn) -> set[str]:
    out = set()
    for f in ast.walk(fn):
        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = f.args
            out |= {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
            out |= {x.arg for x in (a.vararg, a.kwarg) if x}
    # a parameter named *_sql carries text its caller built through sqltext
    return {p for p in out if not p.endswith("_sql")}


#: a SQL lambda's variables: ``(a, b) ->`` or ``a ->``
LAMBDA = re.compile(r"\(([\w\s,]+)\)\s*->|(\w+)\s*->")


def _text(node) -> str | None:
    """Literal text of a string constant or f-string (``{}`` per
    interpolation)."""
    if isinstance(node, ast.Constant):
        return node.value if isinstance(node.value, str) else None
    if isinstance(node, ast.JoinedStr):
        return "".join(v.value if isinstance(v, ast.Constant) else "{}" for v in node.values)
    return None


def _sql_violations(source: str, where: str) -> list[str]:
    """Caller-supplied names spliced into SQL text without ``sqltext``,
    and SQL lambda variables outside the reserved ``__fs_`` prefix."""
    bad = []
    tree = ast.parse(source)
    fns = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    builders = {
        c.func.id
        for n in ast.walk(tree)
        if _is_fexpr(n)
        for a in n.args
        for c in ast.walk(a)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
    }
    for fn in fns:
        params = _params(fn)
        for src in _sql_sources(fn, builders):
            parts = {
                id(v) for n in ast.walk(src) if isinstance(n, ast.JoinedStr) for v in n.values
            }
            for node in ast.walk(src):
                if id(node) in parts:
                    continue
                if isinstance(node, ast.JoinedStr):
                    for v in node.values:
                        if not isinstance(v, ast.FormattedValue) or _is_sqltext_call(v.value):
                            continue
                        raw = sorted(
                            e.id for e in ast.walk(v.value)
                            if isinstance(e, ast.Name) and e.id in params
                        )
                        if raw:
                            bad.append(f"{where}:{node.lineno} {fn.name} splices {raw}")
                for group, single in LAMBDA.findall(_text(node) or ""):
                    bad += [
                        f"{where}:{node.lineno} {fn.name} lambda variable {var!r}"
                        for var in map(str.strip, (group or single).split(","))
                        if not var.startswith("__fs_")
                    ]
    return bad


def test_static_guard_no_column_node_sql():
    hits = [
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if re.search(r"_jc\s*\.\s*node\s*\(", p.read_text())
    ]
    assert hits == []


def test_static_guard_sql_text_goes_through_sqltext():
    bad = []
    for p in SQL_MODULES:
        bad += _sql_violations(p.read_text(), str(p.relative_to(PKG)))
    assert bad == []


def test_static_guard_catches_raw_splices():
    """The scan itself flags the shapes it exists to forbid."""
    src = '''
def op(df, value_col, n):
    body = f"percentile({value_col}, 0.5)"
    ok = f"size({ident(value_col)}) - {lit(n)}"
    return F.expr(f"transform(x, i -> {body}) + {n} + {ok}")
'''
    bad = _sql_violations(src, "m.py")
    assert any("['value_col']" in b for b in bad)
    assert any("['n']" in b for b in bad)
    assert any("'i'" in b for b in bad)
    assert len(bad) == 3
