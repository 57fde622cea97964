"""PromQL label matchers -> Catalyst ``Column`` predicates.

This is the Spark equivalent of the reference's constraint compiler
(reference: search/constraint.go:55-102 ``MatchersToConstraints``) plus its
rewrite set (SURVEY.md §4 O1/O2):

  - ``=~".*"``      -> dropped (matches everything, incl. absent labels)
  - ``=~".+"``      -> ``!= ""``
  - literal regex   -> equality
  - ``a|b|c``       -> IN-list  (pushed to Parquet as ``In``)
  - ``prefix.*``    -> ``startswith`` (pushed as ``StringStartsWith``)
  - ``!~re``        -> NOT(compile(``=~re``))

The #1 correctness trap (SURVEY.md §7) is the Prometheus three-way
equivalence  NULL column value == "" value == label absent from schema.
Each compiled predicate therefore explicitly handles NULLs so that Catalyst
can still push the core comparison to the Parquet scan:

  =  v (v!="")   ->  col == v                       (NULL rows correctly fail)
  =  ""          ->  col IS NULL OR col == ""
  != v (v!="")   ->  col IS NULL OR col != v
  != ""          ->  col IS NOT NULL AND col != ""
  =~ re          ->  rlike anchored; OR col IS NULL if re matches ""

A matcher whose column is absent from the shard schema degenerates to a
constant: True if the matcher matches "", else False (reference:
search/constraint.go:368-376, 448-456, 678-686).

Regex dialect: PromQL matchers are RE2 and fully anchored in dotall mode
(``^(?s:re)$`` — Prometheus FastRegexMatcher), so ``.`` matches newlines.
We evaluate with Java regex on the Spark side and Python
``re`` on the driver side (for the matches-empty probe).  Constructs where
RE2 and Java diverge materially (backreferences don't exist in RE2;
``(?i)`` etc. are common to both) are accepted as-is; see
``tests/test_matchers.py`` for the covered dialect surface.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from parquet_common_spark.schema import label_to_column

MatchOp = str  # '=', '!=', '=~', '!~'

_REGEX_META = set(".+*?()[]{}|\\^$")

# Java-regex-only constructs that RE2 (the PromQL dialect) rejects.  We
# evaluate with Java regex / Python re, so silently accepting these would
# change semantics vs the reference, which errors on them.
_NON_RE2 = (
    ("(?=", "lookahead"),
    ("(?!", "negative lookahead"),
    ("(?<=", "lookbehind"),
    ("(?<!", "negative lookbehind"),
    ("(?>", "atomic group"),
)
_BACKREF = re.compile(r"(?<!\\)\\[1-9]")


class InvalidRegexError(ValueError):
    """Pattern outside the RE2 dialect PromQL matchers use."""


def validate_re2(pattern: str) -> str:
    """Guard the RE2 dialect: reject Java-only constructs, translate RE2
    named groups ``(?P<name>`` to Java's ``(?<name>``.  Returns the
    (possibly translated) pattern."""
    for needle, what in _NON_RE2:
        if needle in pattern:
            raise InvalidRegexError(f"{what} {needle!r} is not valid RE2: {pattern!r}")
    if _BACKREF.search(pattern):
        raise InvalidRegexError(f"backreferences are not valid RE2: {pattern!r}")
    return pattern.replace("(?P<", "(?<")


@dataclass(frozen=True)
class Matcher:
    """One PromQL label matcher, e.g. ``Matcher("job", "=~", "api-.*")``."""

    name: str
    op: MatchOp
    value: str

    def __post_init__(self):
        if self.op not in ("=", "!=", "=~", "!~"):
            raise ValueError(f"bad matcher op {self.op!r}")

    def matches_empty(self) -> bool:
        """Does this matcher accept the empty string (== absent label)?"""
        if self.op == "=":
            return self.value == ""
        if self.op == "!=":
            return self.value != ""
        m = bool(re.fullmatch(self.value, "", re.DOTALL))
        return m if self.op == "=~" else not m


def _is_literal(pattern: str) -> bool:
    return not any(ch in _REGEX_META for ch in pattern)


def _as_alternation_of_literals(pattern: str) -> list[str] | None:
    """``a|b|c`` (literals only, no empty alternative) -> ["a","b","c"].

    Mirrors the reference's set-regex optimization (search/constraint.go:894-909):
    compile to an IN-list so Parquet stats/dictionary pruning applies.
    """
    if "|" not in pattern:
        return None
    parts = pattern.split("|")
    if any(p == "" for p in parts):
        return None
    if all(_is_literal(p) for p in parts):
        return parts
    return None


def _enumerate_literals(pattern: str, limit: int = 64) -> list[str] | None:
    """Expand a regex whose language is a SMALL FINITE set of literal
    strings into that set — e.g. ``test_metric_[1-5]`` ->
    ["test_metric_1", ..., "test_metric_5"], ``a(b|c)d`` -> ["abd",
    "acd"].  Returns None when the language is infinite, larger than
    ``limit``, or uses constructs the expansion doesn't cover.

    This is the O1 set-matcher rewrite generalized to char classes and
    nested groups, mirroring Prometheus's FastRegexMatcher
    ``findSetMatches`` (prometheus/model/labels/regexp.go) and the
    reference's equality-set constraint path (search/constraint.go) —
    an IN list reaches the parquet scan (dictionary/bloom pruning)
    where an anchored rlike never does."""
    try:
        import re._parser as sre
    except ImportError:  # pragma: no cover - py<3.11 spelling
        import sre_parse as sre
    try:
        tree = sre.parse(pattern)
    except Exception:
        return None
    if tree.state.flags & re.IGNORECASE:
        return None  # IN comparison is case-exact

    def walk(seq) -> list[str] | None:
        outs = [""]
        for op, av in seq:
            opname = str(op)
            if opname == "LITERAL":
                outs = [o + chr(av) for o in outs]
                continue
            if opname == "IN":
                chars: list[str] = []
                for iop, iav in av:
                    if str(iop) == "LITERAL":
                        chars.append(chr(iav))
                    elif str(iop) == "RANGE":
                        lo, hi = iav
                        if hi - lo + 1 > limit:
                            return None
                        chars.extend(chr(c) for c in range(lo, hi + 1))
                    else:  # NEGATE, CATEGORY (\d, \w), ...
                        return None
                suffixes: list[str] = chars
            elif opname == "SUBPATTERN":
                # av = (group, add_flags, del_flags, subpattern); a scoped
                # inline flag like (?i:...) changes matching semantics the
                # IN expansion cannot honor — bail to the rlike path
                if av[1] or av[2]:
                    return None
                sub = walk(av[3])
                if sub is None:
                    return None
                suffixes = sub
            elif opname == "BRANCH":
                suffixes = []
                for branch in av[1]:
                    sub = walk(branch)
                    if sub is None:
                        return None
                    suffixes.extend(sub)
            elif opname == "MAX_REPEAT":
                lo, hi, item = av
                if lo != hi or lo > 8:  # only exact small {n} repeats
                    return None
                sub = walk(item)
                if sub is None:
                    return None
                suffixes = [""]
                for _ in range(lo):
                    if len(suffixes) * len(sub) > limit:
                        return None
                    suffixes = [a + b for a in suffixes for b in sub]
            else:  # ANY, ANCHOR, ASSERT, ...: not a finite literal set
                return None
            if len(outs) * len(suffixes) > limit:
                return None
            outs = [o + s for o in outs for s in suffixes]
        return outs

    outs = walk(tree)
    if outs is None or len(outs) > limit:
        return None
    return list(dict.fromkeys(outs))


def _as_prefix_alternation(pattern: str) -> list[str] | None:
    """``(a.*|b.*)`` / ``a.*|b.*`` -> ["a", "b"]: every top-level
    alternative a non-empty literal followed by ``.*``.  Returns None
    otherwise.

    Generalizes the single-prefix rewrite (reference:
    search/constraint.go:719-735) the same way the IN-list rewrite
    generalizes equality: an OR of ``startswith`` is a cheap
    short-circuit byte compare per row, where the anchored
    ``rlike`` alternation re-runs the regex engine per row — and the
    NegativeRegex select workloads put that regex on EVERY series row
    of the scan."""
    if "\\" in pattern:
        # the split on "|" and the paren scan below do not understand
        # escapes (\|, \(, \)); leave escaped patterns to the rlike path
        return None
    inner = pattern
    if inner.startswith("(") and inner.endswith(")") and not inner.startswith("(?"):
        # strip the parens only when they wrap the ENTIRE pattern
        depth = 0
        wraps = True
        for i, ch in enumerate(inner):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i != len(inner) - 1:
                    wraps = False
                    break
        if wraps:
            inner = inner[1:-1]
    if "|" not in inner:
        return None
    prefixes: list[str] = []
    for alt in inner.split("|"):
        if not (alt.endswith(".*") and len(alt) > 2 and _is_literal(alt[:-2])):
            return None
        prefixes.append(alt[:-2])
    return prefixes


def _as_prefix(pattern: str) -> str | None:
    """``thanos-.*`` -> "thanos-" (prefix-regex optimization,
    reference: search/constraint.go:719-735)."""
    for suffix in (".*", ".+"):
        if pattern.endswith(suffix):
            prefix = pattern[: -len(suffix)]
            if prefix and _is_literal(prefix):
                return prefix
    return None


def _eq_predicate(col: Column, value: str) -> Column:
    if value == "":
        return col.isNull() | (col == "")
    return col == value


def _neq_predicate(col: Column, value: str) -> Column:
    if value == "":
        return col.isNotNull() & (col != "")
    return col.isNull() | (col != value)


def matcher_to_predicate(m: Matcher, columns: list[str] | set[str]) -> Column:
    """Compile one matcher against a shard's physical schema."""
    phys = label_to_column(m.name)
    if phys not in set(columns):
        # Absent column: accept-all iff the matcher matches "" (reference:
        # search/constraint.go:368-376).
        return F.lit(m.matches_empty())

    col = F.col(phys)
    if m.op == "=":
        return _eq_predicate(col, m.value)
    if m.op == "!=":
        return _neq_predicate(col, m.value)

    # regex ops — dialect guard, then the rewrite chain (O1/O2).
    # `pattern` keeps the RE2/Python spelling (used with Python `re` for
    # the matches-empty probes); `java_pattern` is the rlike spelling.
    java_pattern = validate_re2(m.value)
    pattern = m.value
    negate = m.op == "!~"

    if pattern == ".*":
        return F.lit(False) if negate else F.lit(True)
    if pattern == ".+":
        base = col.isNotNull() & (col != "")
        return ~base if negate else base
    if _is_literal(pattern):
        base = _eq_predicate(col, pattern)
        return _neq_predicate(col, pattern) if negate else base
    alts = _as_alternation_of_literals(pattern)
    if alts is None:
        # generalized finite-set expansion (char classes, nested groups)
        alts = _enumerate_literals(pattern)
    if alts is not None:
        base = col.isin(alts)
        if "" in alts:
            base = base | col.isNull()
        if negate:
            # null => "" ; "" in alts => excluded
            none_match = F.lit("" not in alts)
            return F.when(col.isNull(), none_match).otherwise(~F.coalesce(base, F.lit(False)))
        return base
    prefix = _as_prefix(pattern)
    if prefix is not None and pattern.endswith(".*"):
        base = col.startswith(prefix)
        if negate:
            return F.when(col.isNull(), F.lit(True)).otherwise(~base)
        return base
    prefixes = _as_prefix_alternation(pattern)
    if prefixes is not None:
        # every alternative has a NON-EMPTY literal prefix, so the
        # pattern cannot match "" (absent label): NULL fails =~ and
        # passes !~, mirroring the single-prefix branch above
        base = col.startswith(prefixes[0])
        for p in prefixes[1:]:
            base = base | col.startswith(p)
        if negate:
            return F.when(col.isNull(), F.lit(True)).otherwise(~base)
        return base

    # Prometheus anchors as ^(?s:re)$ (FastRegexMatcher) — dotall, so `.`
    # crosses newlines.  Java's `$` (unlike RE2's) also matches *before* a
    # final line terminator, so we anchor with \A..\z for exact-full-string
    # semantics on newline-bearing values.
    anchored = f"(?s)\\A(?:{java_pattern})\\z"
    matches_empty = bool(re.fullmatch(pattern, "", re.DOTALL))
    base = col.rlike(anchored)
    if negate:
        return F.when(col.isNull(), F.lit(not matches_empty)).otherwise(~base)
    if matches_empty:
        return col.isNull() | base
    return base


def matchers_to_predicate(
    matchers: list[Matcher] | list[tuple[str, str, str]],
    columns: list[str] | set[str],
) -> Column:
    """AND of all matchers (reference: search/constraint.go:55 + the row-range
    intersection in search/rowrange.go:50-70, which Catalyst's conjunction
    replaces outright)."""
    ms = [m if isinstance(m, Matcher) else Matcher(*m) for m in matchers]
    if not ms:
        return F.lit(True)
    pred = matcher_to_predicate(ms[0], columns)
    for m in ms[1:]:
        pred = pred & matcher_to_predicate(m, columns)
    return pred
