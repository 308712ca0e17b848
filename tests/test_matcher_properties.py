"""Property-based matcher correctness: the compiled Catalyst predicates vs an
independent pure-Python evaluator of Prometheus matcher semantics
(SURVEY §5.1 — adversarial labelsets: missing labels, values containing
``=``/regex metacharacters, empty values).

The Python evaluator is deliberately written from the *semantics* — the
REFERENCE's concat-anchoring (``read.go:104``: partial match of
``'^'+pattern+'$'``, which for a top-level alternation anchors per-branch,
unlike upstream Prometheus's ``^(?:...)$`` wrap — see
test_matchers.py::test_top_level_alternation_anchors_like_reference),
vacuous matches on missing labels, and the ignore-label drop on EQ only —
not from the implementation, so agreement is evidence rather than
tautology.
"""

from __future__ import annotations

import re as pyre

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from remote_tsdb_clickhouse_spark.model import DEFAULT_READ_IGNORE_LABEL
from remote_tsdb_clickhouse_spark.plans.matchers import (
    LabelMatcher,
    MatcherType,
    compile_matchers,
    literal_prefix,
)

# -- adversarial corpus ------------------------------------------------------
# (metric_name, labels) — values include '=', '^', '$', '.', '*', empties,
# and series missing each label entirely.
CORPUS = [
    ("up", ["job=api", "env=prod"]),
    ("up", ["job=api", "env=dev"]),
    ("up", ["job=db"]),  # no env label
    ("up", []),  # no labels at all
    ("down", ["job=a=b", "env=prod"]),  # value containing '='
    ("down", ["job=a.c", "env=pr.d"]),  # values that look like regexes
    ("d.wn", ["job=^anchor$", "env="]),  # name with metachar; empty value
    ("up2", ["job=api2", "remote=clickhouse"]),  # the ignore label
    ("误差", ["job=非ascii"]),  # non-ASCII
]


def _ref_re(pattern: str, s: str) -> bool:
    """The reference's regex application (read.go:104): RE2 partial
    match() of the bare concat '^' + pattern + '$'.  Python re shares the
    alternation/anchor precedence, so search() of the same string is the
    faithful model (fullmatch(pattern) is NOT: it diverges on top-level
    alternations like 'api|db')."""
    return bool(pyre.search("^" + pattern + "$", s))


def _py_eval(name: str, labels: list[str], ms: list[LabelMatcher]) -> bool:
    """Independent reference-semantics evaluator (Python re ~ Java dialect
    for the generated subset)."""
    for m in ms:
        v = m.value
        if m.name == "__name__":
            if m.type == MatcherType.EQ and not name == v:
                return False
            if m.type == MatcherType.NEQ and not name != v:
                return False
            if m.type == MatcherType.RE and not _ref_re(v, name):
                return False
            if m.type == MatcherType.NRE and _ref_re(v, name):
                return False
        else:
            joined = f"{m.name}={v}"
            if m.type == MatcherType.EQ:
                if joined == DEFAULT_READ_IGNORE_LABEL:
                    continue  # F8: dropped, matches everything
                if joined not in labels:
                    return False
            if m.type == MatcherType.NEQ and joined in labels:
                return False
            if m.type == MatcherType.RE and not any(
                _ref_re(f"{m.name}={v}", x) for x in labels
            ):
                return False
            if m.type == MatcherType.NRE and any(
                _ref_re(f"{m.name}={v}", x) for x in labels
            ):
                return False
    return True


# -- strategies --------------------------------------------------------------
_literal = st.sampled_from(
    ["api", "db", "prod", "dev", "a=b", "a.c", "", "up", "down", "^anchor$", "pr.d", "非ascii"]
)
# safe common-dialect regexes (identical meaning in RE2 / Java / Python re)
_regex = st.sampled_from(
    ["a.*", ".*", "(api|db)", "[a-z]+", "pr.d", "a=b", ".*=.*", "(?:a|d).*",
     "u?p", "d.wn",
     # literal prefixes (a startswith is ANDed in for __name__): kept whole,
     # and cut before an optional atom
     "up.*", "do?wn", "up2?",
     # TOP-LEVEL alternation: anchors per-branch under the reference's
     # concat semantics ('^api|db$' = prefix-api OR suffix-db)
     "api|db", "up|down"]
)
_name = st.sampled_from(["job", "env", "remote", "missing", "__name__"])
_type = st.sampled_from(list(MatcherType))


@st.composite
def matcher(draw):
    t = draw(_type)
    n = draw(_name)
    v = draw(_regex if t in (MatcherType.RE, MatcherType.NRE) else _literal)
    if n == "remote" and t == MatcherType.EQ and draw(st.booleans()):
        v = "clickhouse"  # exercise the F8 drop
    return LabelMatcher(t, n, v)


@pytest.fixture(scope="module")
def corpus_df(spark):
    df = spark.createDataFrame(
        [(n, ls) for n, ls in CORPUS], "metric_name STRING, labels ARRAY<STRING>"
    ).cache()
    df.count()
    return df


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(ms=st.lists(matcher(), min_size=1, max_size=3))
def test_matchers_agree_with_reference_semantics(spark, corpus_df, ms):
    cond = compile_matchers(ms)
    got = {
        (r.metric_name, tuple(r.labels))
        for r in corpus_df.where(cond).select("metric_name", "labels").collect()
    }
    expected = {
        (n, tuple(ls)) for n, ls in CORPUS if _py_eval(n, ls, ms)
    }
    assert got == expected, f"matchers={ms}"


def test_named_group_translation(spark, corpus_df):
    """RE2 spells named groups (?P<g>...); Java rejects the P — the compiler
    must translate, not crash (a valid Prometheus matcher)."""
    ms = [LabelMatcher(MatcherType.RE, "__name__", "(?P<g>up|down)")]
    got = {r.metric_name for r in corpus_df.where(compile_matchers(ms)).collect()}
    assert got == {"up", "down"}


# -- __name__ regex literal prefix -------------------------------------------
# atoms that are literal, metacharacters, escapes, classes or groups, each
# optionally quantified, and bare anchors; joined, and sometimes split by a
# top-level '|'
_atom = st.sampled_from(
    ["a", "b", "_", "=", ".", "\\.", "\\d", "[ab]", "[^a]", "(ab)", "(?:a|b)",
     "(?i:a)", "^", "$"]
)
_quant = st.sampled_from(["", "", "", "*", "+", "?", "{2}", "{0,2}", "*?", "+?", "??"])
_piece = st.builds(lambda a, q: a if a in "^$" else a + q, _atom, _quant)
_body = st.lists(_piece, max_size=6).map("".join)
_pattern = st.one_of(_body, st.builds(lambda x, y: f"{x}|{y}", _body, _body))


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(pattern=_pattern, data=st.data())
def test_literal_prefix_starts_every_match(pattern, data):
    """Soundness of the pushed ``startswith``: whenever the reference's
    concat-anchored regex matches a string, that string starts with the
    extracted prefix (so ANDing it in never drops a matching row)."""
    try:
        anchored = pyre.compile("^" + pattern + "$")
    except pyre.error:  # e.g. a quantified anchor, '^*'
        assume(False)
    s = data.draw(st.from_regex(anchored), label="matched")
    assert anchored.search(s)
    assert s.startswith(literal_prefix(pattern)), (pattern, s)


def test_literal_prefix_cases():
    assert literal_prefix("go_.*") == "go_"
    assert literal_prefix("up") == "up"
    assert literal_prefix("ab+") == "ab"  # at least one b
    assert literal_prefix("ab*") == "a"  # b may be absent
    assert literal_prefix("ab?c") == "a"
    assert literal_prefix("ab{0,2}") == "a"
    assert literal_prefix("go_|up") == ""  # '^go_|up$' matches "xup"
    assert literal_prefix("(?i)go") == ""
    assert literal_prefix("\\.go") == ""
    assert literal_prefix("[g]o") == ""
