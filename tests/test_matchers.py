"""Matcher-compiler semantics: the F3 truth table (FIXTURES.md) plus the
rewrite surface (reference: search/constraint.go:55-102)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_common_spark.matchers import Matcher, matcher_to_predicate, matchers_to_predicate


@pytest.fixture(scope="module")
def series_df(spark):
    # pods from the reference's empty-matcher corpus
    # (parquet_queryable_test.go:553-582)
    rows = [
        ("nginx-1", "/"),
        ("nginx-2", None),
        ("nginx-3", "/"),
        ("nginx-4", None),
    ]
    return spark.createDataFrame(rows, "l_pod string, l_route string")


def pods(series_df, m: Matcher):
    pred = matcher_to_predicate(m, series_df.columns)
    return sorted(r["l_pod"] for r in series_df.where(pred).collect())


TRUTH_TABLE = [
    (Matcher("route", "=", ""), ["nginx-2", "nginx-4"]),
    (Matcher("route", "=~", ""), ["nginx-2", "nginx-4"]),
    (Matcher("route", "!~", ".+"), ["nginx-2", "nginx-4"]),
    (Matcher("route", "!=", ""), ["nginx-1", "nginx-3"]),
    (Matcher("route", "!~", ""), ["nginx-1", "nginx-3"]),
    (Matcher("route", "=~", ".+"), ["nginx-1", "nginx-3"]),
    (Matcher("route", "=", "/"), ["nginx-1", "nginx-3"]),
    (Matcher("route", "!=", "/"), ["nginx-2", "nginx-4"]),
    (Matcher("route", "=~", ".*"), ["nginx-1", "nginx-2", "nginx-3", "nginx-4"]),
    (Matcher("route", "!~", ".*"), []),
]

# newline-bearing values: Prometheus anchors regexes as ^(?s:re)$
# (FastRegexMatcher), so `.` crosses newlines and `$` means end-of-string,
# NOT before-final-newline.
NL_ROWS = [
    ("nl-1", "foo\nbar"),
    ("nl-2", "foobar"),
    ("nl-3", "foo\n"),
    ("nl-4", "foo"),
]

NL_TABLE = [
    (Matcher("route", "=~", "foo.*bar"), ["nl-1", "nl-2"]),
    (Matcher("route", "=~", "foo.bar"), ["nl-1"]),
    (Matcher("route", "=~", "foo"), ["nl-4"]),          # literal: "foo\n" must NOT match
    (Matcher("route", "=~", "fo[o]"), ["nl-4"]),        # rlike path: \z anchor, not $
    (Matcher("route", "=~", "foo.?"), ["nl-3", "nl-4"]),
    (Matcher("route", "!~", "foo.*bar"), ["nl-3", "nl-4"]),
    (Matcher("route", "=~", "foo.*"), ["nl-1", "nl-2", "nl-3", "nl-4"]),  # prefix rewrite
]


@pytest.mark.parametrize(
    "m,expected", NL_TABLE, ids=[f"{m.op}{m.value!r}" for m, _ in NL_TABLE]
)
def test_newline_values(spark, m, expected):
    df = spark.createDataFrame(NL_ROWS, "l_pod string, l_route string")
    assert pods(df, m) == expected


@pytest.mark.parametrize("m,expected", TRUTH_TABLE, ids=[f"{m.name}{m.op}{m.value!r}" for m, _ in TRUTH_TABLE])
def test_truth_table(series_df, m, expected):
    assert pods(series_df, m) == expected


ALL = ["nginx-1", "nginx-2", "nginx-3", "nginx-4"]


@pytest.mark.parametrize(
    "m,expected",
    [
        (Matcher("absent", "=", ""), ALL),
        (Matcher("absent", "=~", ".*"), ALL),
        (Matcher("absent", "!~", ".+"), ALL),
        (Matcher("absent", "=", "x"), []),
        (Matcher("absent", "=~", ".+"), []),
        (Matcher("absent", "!=", ""), []),
        (Matcher("absent", "!=", "x"), ALL),
    ],
)
def test_absent_column(series_df, m, expected):
    # reference: search/constraint.go:368-376 — missing column accepts all
    # rows iff the matcher matches ""
    assert pods(series_df, m) == expected


def test_regex_rewrites(spark):
    df = spark.createDataFrame(
        [("api-1",), ("api-2",), ("web-1",), (None,), ("",)], "l_job string"
    )

    def vals(m):
        pred = matcher_to_predicate(m, df.columns)
        return sorted((r["l_job"] or "∅") for r in df.where(pred).collect())

    # set regex -> IN
    assert vals(Matcher("job", "=~", "api-1|web-1")) == ["api-1", "web-1"]
    # prefix regex -> startswith
    assert vals(Matcher("job", "=~", "api-.*")) == ["api-1", "api-2"]
    # negated prefix: NULL/"" match (they're not api-*)
    assert vals(Matcher("job", "!~", "api-.*")) == ["web-1", "∅", "∅"]
    # literal regex -> equality
    assert vals(Matcher("job", "=~", "web-1")) == ["web-1"]
    # general regex stays a regex
    assert vals(Matcher("job", "=~", "(api|web)-[0-9]")) == ["api-1", "api-2", "web-1"]
    # negated set including empty alternation handling
    assert vals(Matcher("job", "!~", "api-1|web-1")) == ["api-2", "∅", "∅"]
    # alternation of prefixes -> OR of startswith (r13)
    assert vals(Matcher("job", "=~", "(api-.*|web-.*)")) == ["api-1", "api-2", "web-1"]
    assert vals(Matcher("job", "=~", "api-.*|web-.*")) == ["api-1", "api-2", "web-1"]
    # negated prefix alternation: NULL/"" pass (match neither prefix)
    assert vals(Matcher("job", "!~", "(api-.*|web-.*)")) == ["∅", "∅"]
    # a paren NOT wrapping the whole pattern must stay a regex path
    assert vals(Matcher("job", "=~", "(api|web)-.*")) == ["api-1", "api-2", "web-1"]


def test_prefix_alternation_respects_escapes(spark):
    r"""An escaped ``|`` is a literal, not an alternation: ``a\|b.*``
    matches values starting with "a|b", never a bare "a" or "b..."."""
    from parquet_common_spark.matchers import _as_prefix_alternation

    assert _as_prefix_alternation(r"a\|b.*") is None
    assert _as_prefix_alternation(r"(a.*|b\(.*)") is None
    df = spark.createDataFrame([("a|bc",), ("a",), ("bc",), ("a.*",)], "l_x string")
    pred = matcher_to_predicate(Matcher("x", "=~", r"a\|b.*"), df.columns)
    assert [r["l_x"] for r in df.where(pred).collect()] == ["a|bc"]


def test_conjunction(spark):
    df = spark.createDataFrame(
        [("m1", "a"), ("m1", None), ("m2", "a")], "l___name__ string, l_env string"
    )
    pred = matchers_to_predicate(
        [("__name__", "=", "m1"), ("env", "=", "")], df.columns
    )
    got = df.where(pred).collect()
    assert len(got) == 1 and got[0]["l_env"] is None


def test_empty_matcher_list(spark):
    df = spark.createDataFrame([("x",)], "l_a string")
    assert df.where(matchers_to_predicate([], df.columns)).count() == 1


def test_matches_empty():
    assert Matcher("x", "=", "").matches_empty()
    assert not Matcher("x", "=", "v").matches_empty()
    assert Matcher("x", "!=", "v").matches_empty()
    assert Matcher("x", "=~", ".*").matches_empty()
    assert not Matcher("x", "=~", ".+").matches_empty()
    assert Matcher("x", "!~", ".+").matches_empty()


def test_pushdown_shapes():
    """The rewrites must produce pushdown-friendly expression heads
    (EqualTo / In / StartsWith), not RLike."""
    cols = ["l_job"]
    assert "RLIKE" not in str(matcher_to_predicate(Matcher("job", "=~", "a|b"), cols)).upper()
    assert "RLIKE" not in str(matcher_to_predicate(Matcher("job", "=~", "ab.*"), cols)).upper()
    assert "RLIKE" not in str(matcher_to_predicate(Matcher("job", "=~", "abc"), cols)).upper()
    # alternation of prefixes (the NegativeRegex select shape) -> startswith OR
    assert "RLIKE" not in str(
        matcher_to_predicate(Matcher("job", "!~", "(ab.*|cd.*)"), cols)
    ).upper()
    assert "RLIKE" in str(matcher_to_predicate(Matcher("job", "=~", "a[0-9]+"), cols)).upper()


def test_re2_dialect_guard(spark):
    from parquet_common_spark.matchers import InvalidRegexError, validate_re2

    df = spark.createDataFrame([("a1",), ("b2",)], "l_x string")
    for bad in [r"(?=foo)bar", r"(?!a).*", r"(?<=x)y", r"(?>atomic)", r"(a)\1"]:
        with pytest.raises(InvalidRegexError):
            df.where(matcher_to_predicate(Matcher("x", "=~", bad), df.columns)).collect()
    # escaped backslash-digit is a literal, not a backreference
    assert validate_re2(r"a\\1b") == r"a\\1b"
    # RE2 named group translates to the Java spelling
    got = [r["l_x"] for r in df.where(
        matcher_to_predicate(Matcher("x", "=~", r"(?P<letter>[ab])[0-9]"), df.columns)
    ).collect()]
    assert sorted(got) == ["a1", "b2"]


def test_scoped_flag_not_enumerated(spark):
    """(?i:...) groups must not expand to a case-exact IN list — the
    scoped flag changes matching semantics, so the rlike path (which
    honors it) must be used (review finding, r5)."""
    from parquet_common_spark.matchers import _enumerate_literals

    assert _enumerate_literals("(?i:abc)") is None
    assert _enumerate_literals("x(?i:a|b)y") is None
    # without the flag, the same shape still enumerates
    assert sorted(_enumerate_literals("x(a|b)y")) == ["xay", "xby"]

    df = spark.createDataFrame([("ABC",), ("abc",), ("xyz",)], "l_job string")
    got = [r["l_job"] for r in df.where(
        matcher_to_predicate(Matcher("job", "=~", "(?i:abc)"), df.columns)
    ).collect()]
    assert sorted(got) == ["ABC", "abc"]
